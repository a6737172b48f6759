package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.{InfoSchema, Tables}
import graft.exec.Share
import graft.ext.{Bucketing, Curation, Decontamination, Dedup, Events, Graph, Multimodal, Packing, Sampling, Sharding, Similarity, TableLog, TextStats}
import graft.profile.TableProfiler

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * §7.5 extension); [[oracleSql]] carries its DuckDB twin, aliased
  * column-for-column (the driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

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

  /** TPC-H Q1-shaped pricing summary — ANSI SQL that parses identically
    * in Spark and DuckDB, exercising the `query`/`file` SQL-passthrough
    * surface (/root/reference/aws-athena.sh:140,155). Sums accumulate
    * in decimal for cross-engine determinism.
    */
  private val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(cast(sum(cast(l_quantity as decimal(18,6))) as double), 5) AS sum_qty,
      | round(cast(sum(cast(l_extendedprice as decimal(18,6))) as double), 5) AS sum_base_price,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS sum_disc_price,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) as decimal(18,6))) as double), 5) AS sum_charge,
      | round(avg(l_quantity), 5) AS avg_qty,
      | round(avg(l_extendedprice), 5) AS avg_price,
      | round(avg(l_discount), 5) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue per nation — multi-way join exercise (joins are absent
    * from the reference's own code, SURVEY.md §2.3, but flow through
    * the SQL passthrough; Catalyst broadcasts the small dimensions).
    */
  private val revenueByNationSql: String =
    """SELECT n_name,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** §2.3/§2.4 — TPC-H Q8-shaped market-share query: the 6-join
    * snowflake (lineitem→orders→customer→nation→region +
    * supplier→nation) with a conditional share per year. Fraction
    * from TWO exact decimal sums, one double division (rule 2);
    * the year pinned to BIGINT in both engines. The two `nation`
    * scans resolve independently (self-join through different keys).
    */
  private val marketShareSql: String =
    """SELECT o_year,
      | round(cast(sum(CASE WHEN nation = 'NATION_2' THEN volume
      |   ELSE cast(0 as decimal(18,6)) END) as double) /
      |  cast(sum(volume) as double), 5) AS mkt_share
      |FROM (
      |  SELECT cast(extract(year from o_orderdate) as bigint) AS o_year,
      |   cast(l_extendedprice * (1 - l_discount) as decimal(18,6)) AS volume,
      |   n2.n_name AS nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA'
      |) t
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** §2.4 — TPC-H Q15-shaped top supplier: a derived revenue view
    * probed by an uncorrelated scalar-max subquery; exact decimal
    * revenue so the max-equality is bit-stable (a double revenue
    * could tie-break differently per engine).
    */
  private val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)))
      |     as decimal(18,6)) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= date '1995-01-01' AND l_shipdate < date '1995-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      | round(cast(total_revenue as double), 5) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** §2.3/§2.4 — TPC-H Q3-shaped shipping-priority query through the
    * SQL passthrough: 3-table join with selective predicates on BOTH
    * fact and dimension sides (all pushed to the scans), decimal-exact
    * revenue, top-10 by revenue with a unique tie-break key.
    */
  private val shippingPrioritySql: String =
    """SELECT l_orderkey,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS revenue,
      | o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q6 shape — the canonical scan-dominated filtered aggregate:
    * every predicate pushes into the parquet scan (PushedFilters on
    * l_shipdate/l_discount/l_quantity), no join, one partial+final
    * agg of a single row per partition. The query 100 TB scans are
    * judged by: wall time ≈ I/O bandwidth.
    */
  private val forecastRevenueSql: String =
    """SELECT
      | round(cast(sum(cast(l_extendedprice * l_discount as decimal(18,6))) as double), 5) AS revenue,
      | count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** §2.3 — TPC-H Q5-shaped "local supplier volume": the canonical
    * 6-table star-plus-snowflake join. The distinguishing edge is
    * `c_nationkey = s_nationkey` — an equi-constraint between two
    * DIMENSION keys that both arrive via the fact table, so it can
    * only be checked after both joins. Plan shape at 100 TB: lineitem
    * ⋈ orders ⋈ customer shuffle on their keys (the three tables that
    * scale with data); supplier/nation/region broadcast (bounded
    * dimension tables); the region filter prunes the nation broadcast
    * before it reaches the probe side. Same dialect-portable SQL runs
    * on both engines.
    */
  private val localSupplierVolumeSql: String =
    """SELECT n_name,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** §2.4 — CORRELATED scalar subquery (the reference's generated SQL
    * uses uncorrelated ones, aws-athena.sh:81-100; correlation is the
    * harder superset): each customer's most expensive order(s). Spark's
    * RewriteCorrelatedScalarSubquery turns the per-row subquery into
    * ONE aggregate over the subquery side + an equi-join — no
    * per-outer-row re-execution, the plan you need at scale. Same
    * dialect-portable SQL runs on both engines.
    */
  private val correlatedMaxSql: String =
    """SELECT o_orderkey, o_custkey,
      | round(cast(cast(o_totalprice as decimal(18,6)) as double), 5) AS total
      |FROM orders o
      |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** §2.4 — CUBE grouping sets: every (flag, status) margin in one
    * pass. Spark plans ROLLUP/CUBE as a single Expand + one hash
    * aggregate — 4× the rows into the shuffle (one per grouping set),
    * NOT 4 scans; `grouping()` flags disambiguate data NULLs from
    * subtotal NULLs, same as the ROLLUP twin.
    */
  private val cubePricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      | cast(grouping(l_returnflag) AS INT) AS g_flag,
      | cast(grouping(l_linestatus) AS INT) AS g_status,
      | count(*) AS n_rows,
      | round(cast(sum(cast(l_extendedprice as decimal(18,6))) as double), 5) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** §2.4 extension — ROLLUP grouping sets through the SQL
    * passthrough (subtotals + grand total in one pass; Spark plans a
    * single Expand + one shuffle, not one scan per grouping set).
    * Explicit NULLS FIRST because the engines' default null order
    * differs (Spark first, DuckDB last).
    */
  // §2.4 — explicit GROUPING SETS (the third grouping-set form next
  // to ROLLUP/CUBE): per-flag and per-status marginals plus the grand
  // total, WITHOUT the (flag, status) cross cells CUBE would add.
  // Same passthrough text on both engines; one Expand + one shuffle.
  private val groupingSetsPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      | cast(grouping(l_returnflag) AS INT) AS g_flag,
      | cast(grouping(l_linestatus) AS INT) AS g_status,
      | count(*) AS n_rows,
      | round(cast(sum(cast(l_extendedprice as decimal(18,6))) as double), 5) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // §2.5 — the ranking-window surface in one query: rank/dense_rank
  // over a TIE-BEARING order (equal n_orders share a rank; the ≤3
  // filter keeps whole tie groups), row_number/ntile over the fully
  // tiebroken order (they are only deterministic under a total
  // order). Same passthrough text on both engines.
  private val windowRanksSql: String =
    """WITH co AS (
      |  SELECT c_nationkey, o_custkey, count(*) AS n_orders
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey, o_custkey),
      |r AS (
      |  SELECT c_nationkey, o_custkey, n_orders,
      |    cast(rank() OVER (PARTITION BY c_nationkey
      |      ORDER BY n_orders DESC) AS INT) AS rnk,
      |    cast(dense_rank() OVER (PARTITION BY c_nationkey
      |      ORDER BY n_orders DESC) AS INT) AS drnk,
      |    cast(row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY n_orders DESC, o_custkey) AS INT) AS rn,
      |    cast(ntile(4) OVER (PARTITION BY c_nationkey
      |      ORDER BY n_orders DESC, o_custkey) AS INT) AS quartile
      |  FROM co)
      |SELECT * FROM r WHERE rnk <= 3
      |ORDER BY c_nationkey, rn""".stripMargin

  private val rollupPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      | cast(grouping(l_returnflag) AS INT) AS g_flag,
      | cast(grouping(l_linestatus) AS INT) AS g_status,
      | count(*) AS n_rows,
      | round(cast(sum(cast(l_quantity as decimal(18,6))) as double), 5) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** §2.3 — semi/anti joins through the SQL passthrough: EXISTS plans
    * as LeftSemi, NOT EXISTS as LeftAnti — neither materializes the
    * match side's payload, and both stop probing a key at the first
    * hit, the scale-correct encoding of set-membership predicates
    * (vs a join + distinct, which explodes on hot keys first).
    */
  private val semiAntiSql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** §2.3 — ANSI NOT IN three-valued-logic semantics, the classic
    * correctness trap: a NULL anywhere in the subquery set makes
    * `x NOT IN (set)` UNKNOWN for every x, so the nullable-set
    * variant returns 0 rows while the null-free variant returns many.
    * Spark plans this as a NULL-AWARE anti join — a different
    * physical operator from NOT EXISTS' plain LeftAnti (q_semi_anti)
    * — and both engines must agree on the empty-vs-populated split.
    */
  private val notInNullSql: String =
    """SELECT 'vs_nullable_set' AS variant, count(*) AS n_rows FROM events
      |WHERE value NOT IN (SELECT CASE WHEN event_type = 'view' THEN value END
      |                    FROM events)
      |UNION ALL
      |SELECT 'vs_nonnull_set' AS variant, count(*) AS n_rows FROM events
      |WHERE value NOT IN (SELECT value FROM events WHERE event_type = 'view')
      |ORDER BY variant""".stripMargin

  /** §2.5 — the analytic-window surface beyond ranks: lag/lead
    * offsets, first/nth frame values over an explicit ROWS frame, a
    * decimal-exact moving sum, and the two distribution functions —
    * all over NAMED windows (the `WINDOW` clause parses identically
    * in both engines). Deterministic: the window order carries the
    * unique o_orderkey tie-break, frames are explicit where defaults
    * could differ, and the moving sum accumulates in decimal.
    */
  private val windowAnalyticsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(o_totalprice, 5) AS total,
      |  round(lag(o_totalprice) OVER w, 5) AS prev_total,
      |  round(lead(o_totalprice) OVER w, 5) AS next_total,
      |  round(first_value(o_totalprice) OVER wf, 5) AS first_total,
      |  round(nth_value(o_totalprice, 2) OVER wf, 5) AS second_total,
      |  round(cast(sum(cast(o_totalprice AS decimal(18,6))) OVER wm AS double), 5) AS moving3_sum,
      |  round(percent_rank() OVER w, 5) AS pct_rank,
      |  round(cume_dist() OVER w, 5) AS cume
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW
      |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wm AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** §2.8 — scalar string-function breadth through the passthrough:
    * the ANSI-portable core (case mapping, length, substring, trim,
    * replace, pad, reverse, regexp_replace, levenshtein, concat) over
    * a dimension table — each function must agree cell-exactly with
    * the oracle engine. Functions with known cross-engine convention
    * differences (initcap word rules, translate, soundex) are
    * deliberately excluded from the portable surface.
    */
  private val stringFuncsSql: String =
    """SELECT n_nationkey,
      |  upper(n_name) AS up, lower(n_name) AS lo,
      |  cast(length(n_name) AS BIGINT) AS len,
      |  substring(n_name, 2, 3) AS sub,
      |  trim('  ' || n_name || ' ') AS trimmed,
      |  replace(n_name, '_', '-') AS replaced,
      |  lpad(n_name, 12, '.') AS padded,
      |  reverse(n_name) AS rev,
      |  regexp_replace(n_name, '[0-9]+', '#') AS digits_masked,
      |  cast(levenshtein(n_name, reverse(n_name)) AS BIGINT) AS lev_to_rev,
      |  concat(n_name, ':', cast(n_regionkey AS string)) AS tagged
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** §2.8 — datetime-function breadth: ANSI EXTRACT fields,
    * date_trunc at two granularities, date casts and their canonical
    * string rendering — the portable core (day-of-week numbering and
    * format() are deliberately excluded: conventions differ between
    * engines). Every field is explicitly cast to BIGINT since EXTRACT
    * returns different integer widths per engine.
    */
  private val datetimeFuncsSql: String =
    """SELECT event_type,
      |  cast(min(extract(YEAR FROM ts)) AS BIGINT) AS min_year,
      |  cast(max(extract(MONTH FROM ts)) AS BIGINT) AS max_month,
      |  cast(max(extract(DAY FROM ts)) AS BIGINT) AS max_day,
      |  cast(max(extract(HOUR FROM ts)) AS BIGINT) AS max_hour,
      |  cast(min(extract(MINUTE FROM ts)) AS BIGINT) AS min_minute,
      |  count(DISTINCT cast(ts AS DATE)) AS n_days,
      |  count(DISTINCT date_trunc('HOUR', ts)) AS n_hours,
      |  min(cast(cast(ts AS DATE) AS string)) AS first_day,
      |  max(cast(date_trunc('DAY', ts) AS DATE)) AS last_trunc_day
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.6 — total-order sort + LIMIT (plans as TakeOrderedAndProject:
    * per-partition top-k, k-row merge on the driver — no full sort of
    * the table at any scale). Unique tie-break key for determinism.
    */
  private val topOrdersSql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 5) AS total
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** §2.7 — INTERSECT/EXCEPT through the SQL passthrough: customers
    * active in both 1995-96 and 1998+ minus those who ever cancelled.
    */
  private val setOpsSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderdate < timestamp '1997-01-01 00:00:00'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderdate >= timestamp '1998-01-01 00:00:00'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'C'
      |ORDER BY o_custkey""".stripMargin

  /** §2.3/§2.4 — TPC-H Q13 shape: LEFT OUTER join with a predicate on
    * the preserved side's PARTNER (the filter lives in the ON clause —
    * pushed below the join, but rows it removes still surface as
    * count 0, the semantics a WHERE would destroy), then a second
    * aggregation over the first's result. Two shuffles: (custkey),
    * then (c_count) — the distribution agg is over an
    * already-collapsed customer-sized relation.
    */
  private val orderCountDistSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** §2.4 — TPC-H Q18 shape: IN-subquery whose inner relation is
    * itself a HAVING-filtered aggregate. Spark plans the IN as a
    * LEFT SEMI join against the aggregated subquery — the filter
    * collapses lineitem to qualifying order keys BEFORE the 3-table
    * join fans out, so the expensive join runs on the rare orders
    * only.
    */
  private val largeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
      | round(cast(cast(o_totalprice as decimal(18,6)) as double), 5) AS total,
      | round(cast(sum(cast(l_quantity as decimal(18,6))) as double), 5) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY total DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** §2.3 — TPC-H Q7 shape: the same dimension table joined TWICE
    * under different roles (customer's nation vs supplier's nation) —
    * alias resolution the single-join queries never exercise — plus a
    * year extraction grouping. Both nation sides broadcast; the
    * fact-side shuffles are the lineitem⋈orders⋈customer chain.
    */
  private val nationTradeSql: String =
    """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      | cast(extract(year FROM l_shipdate) as bigint) AS ship_year,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS volume,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE cn.n_name IN ('NATION_1', 'NATION_2')
      |  AND sn.n_name IN ('NATION_1', 'NATION_2')
      |  AND cn.n_name <> sn.n_name
      |GROUP BY cn.n_name, sn.n_name, ship_year
      |ORDER BY cust_nation, supp_nation, ship_year""".stripMargin

  /** §2.4 — TPC-H Q14 shape: conditional aggregation ratio (CASE
    * inside sum). Determinism note: both sums accumulate EXACT
    * decimals; each is cast to double once (exactly representable),
    * and the single IEEE double division + round(5) is bit-identical
    * across engines — never a double accumulation.
    */
  private val promoShareSql: String =
    """SELECT
      | round(cast(100.0 as double) *
      |   cast(sum(CASE WHEN p_type = 'PROMO'
      |     THEN cast(l_extendedprice * (1 - l_discount) as decimal(18,6))
      |     ELSE cast(0.0 as decimal(18,6)) END) as double) /
      |   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5)
      |   AS promo_share,
      | count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'""".stripMargin

  /** Co-purchase triangle counting oracle — twin of
    * Graph.coOccurrenceEdges + triangleCounts on (order, part).
    */
  private val triangleSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.i AS a, y.i AS b FROM items x
      |  JOIN items y ON x.g = y.g AND x.i < y.i),
      |t AS (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT node, count(*) AS n_triangles FROM (
      |  SELECT ta AS node FROM t
      |  UNION ALL SELECT tb FROM t
      |  UNION ALL SELECT tc FROM t) corners
      |GROUP BY node
      |ORDER BY node""".stripMargin

  /** §2.3/§2.4 — TPC-H Q10 shape: revenue lost to returned items per
    * customer — fact-side flag filter (l_returnflag = 'R' pushed to
    * the lineitem scan), a date-windowed orders join, the nation
    * dimension broadcast, and a top-20 by revenue with a unique key
    * tiebreak (TakeOrderedAndProject, never a full sort).
    */
  private val returnedItemsSql: String =
    """SELECT c_custkey, c_name, n_name,
      | round(cast(cast(c_acctbal as decimal(18,6)) as double), 5) AS acctbal,
      | round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double), 5) AS revenue,
      | count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** §7.5 — chi-square independence report over the documents
    * (lang, source) contingency table: per cell the observed count,
    * the independence-expected count and the χ² contribution — the
    * "is my corpus mix confounded" data-quality signal. All counts
    * are exact longs; expected = rt·ct/n is ONE double division of
    * exact integer products (far inside 2⁵³) and the contribution one
    * fixed-shape expression — identical IEEE arithmetic in both
    * engines. Scale shape: one (lang, source) count shuffle, two
    * margin roll-ups of the contingency relation (cells, not rows),
    * broadcast-class joins back.
    */
  private val chisqSql: String =
    """WITH ct AS (
      |  SELECT lang, source, count(*) AS o
      |  FROM documents GROUP BY lang, source),
      |tot AS (SELECT sum(o) AS n FROM ct),
      |r AS (SELECT lang, sum(o) AS rt FROM ct GROUP BY lang),
      |c AS (SELECT source, sum(o) AS cs FROM ct GROUP BY source)
      |SELECT ct.lang AS lang, ct.source AS source, o AS observed,
      | round(cast(rt * cs as double) / cast(n as double), 5) AS expected,
      | round((cast(o as double) - cast(rt * cs as double) / cast(n as double)) *
      |   (cast(o as double) - cast(rt * cs as double) / cast(n as double)) /
      |   (cast(rt * cs as double) / cast(n as double)), 5) AS contrib
      |FROM ct
      |JOIN r ON ct.lang = r.lang
      |JOIN c ON ct.source = c.source
      |CROSS JOIN tot
      |ORDER BY ct.lang, ct.source""".stripMargin

  /** §7.5 — mutual information I(lang; source) from the same
    * contingency table as the χ² report: Σ (o/n)·ln(o·n/(rt·cs)),
    * the redundancy-between-metadata-columns signal. Counts are exact;
    * each ln is quantized to DECIMAL(18,9) (the Naive-Bayes ln
    * convention — engines agree to ≤1 ulp, inside the quantum), the
    * weighted sum Σ o·lnq is exact decimal, and ONE double division
    * + round(5) finishes. Same scale shape as q_chisq_lang_source.
    */
  private val miSql: String =
    """WITH ct AS (
      |  SELECT lang, source, count(*) AS o
      |  FROM documents GROUP BY lang, source),
      |tot AS (SELECT sum(o) AS n FROM ct),
      |r AS (SELECT lang, sum(o) AS rt FROM ct GROUP BY lang),
      |c AS (SELECT source, sum(o) AS cs FROM ct GROUP BY source),
      |cells AS (
      |  SELECT o, n,
      |   cast(round(ln(cast(o as double) * cast(n as double) /
      |     (cast(rt as double) * cast(cs as double))), 9) as decimal(18,9)) AS lnq
      |  FROM ct
      |  JOIN r ON ct.lang = r.lang
      |  JOIN c ON ct.source = c.source
      |  CROSS JOIN tot)
      |SELECT
      | round(cast(sum(o * lnq) as double) / cast(max(n) as double), 5)
      |   AS mutual_information,
      | count(*) AS n_cells
      |FROM cells""".stripMargin

  /** Poisson-bootstrap oracle — twin of Sampling.poissonBootstrap on
    * documents.n_chars; the CDF thresholds interpolate from the SAME
    * Sampling.PoissonCdf1 sequence the Spark side buckets with.
    */
  private def bootstrapSql(replicates: Int, salt: String): String = {
    val cases = graft.ext.Sampling.PoissonCdf1.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""WITH reps AS (SELECT unnest(range(0, $replicates)) AS rep),
       |b AS (SELECT d.n_chars, r.rep,
       |  cast('0x' || substr(md5('$salt|' || cast(doc_id AS VARCHAR) || ':' ||
       |    cast(r.rep AS VARCHAR)), 1, 8) AS BIGINT)::DOUBLE / 4294967296.0 AS u
       |  FROM documents d CROSS JOIN reps r),
       |w AS (SELECT rep, n_chars,
       |  CASE $cases ELSE ${graft.ext.Sampling.PoissonCdf1.size} END AS w FROM b)
       |SELECT rep, cast(sum(w) AS BIGINT) AS n_eff,
       | round(cast(sum(cast(n_chars as decimal(18,6)) * w) as double) /
       |   sum(w), 5) AS mean_v
       |FROM w WHERE w > 0 GROUP BY rep ORDER BY rep""".stripMargin
  }

  /** Association-rule oracle — twin of Graph.associationRules on the
    * (order, part) relation; interpolates the shared
    * assocMinSupport/assocK constants.
    */
  private def assocRulesSql(minSupport: Long, k: Int): String =
    s"""WITH gi AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |n AS (SELECT count(DISTINCT g) AS ng FROM gi),
       |it AS (SELECT i, count(*) AS item_n FROM gi GROUP BY i),
       |pr AS (
       |  SELECT x.i AS a, y.i AS b, count(*) AS pair_n
       |  FROM gi x JOIN gi y ON x.g = y.g AND x.i < y.i
       |  GROUP BY x.i, y.i
       |  HAVING count(*) >= $minSupport),
       |d AS (
       |  SELECT a AS antecedent, b AS consequent, pair_n FROM pr
       |  UNION ALL SELECT b AS antecedent, a AS consequent, pair_n FROM pr)
       |SELECT antecedent, consequent, pair_n,
       |  round(pair_n::DOUBLE / ng, 5) AS support,
       |  round(pair_n::DOUBLE / ia.item_n, 5) AS confidence,
       |  round((pair_n * ng)::DOUBLE / (ia.item_n * ic.item_n), 5) AS lift
       |FROM d CROSS JOIN n
       |JOIN it ia ON d.antecedent = ia.i
       |JOIN it ic ON d.consequent = ic.i
       |ORDER BY lift DESC, antecedent, consequent
       |LIMIT $k""".stripMargin

  /** Sampling / packing parameters — passed to BOTH the Spark queries
    * and the OraclesExt twin builders, so the two engines cannot
    * drift (same pattern as Dedup.NgramStopShingleCap).
    */
  private[graft] val stratifiedRates = Map("en" -> 0.5, "zh" -> 0.25)
  private[graft] val stratifiedDefaultRate = 0.1
  private[graft] val testFraction = 0.2
  private[graft] val packBudget = 512L
  private[graft] val mixtureWeights = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private[graft] val topTokensK = 50
  private[graft] val shardCount = 8
  private[graft] val topQualityK = 5
  // quantile gate keep fraction as an exact rational (top 20% per
  // lang) — integer cutoff math twins bit-for-bit with the oracle
  private[graft] val quantileKeepNum = 1
  private[graft] val quantileKeepDen = 5
  private[graft] val rollingDays = 7
  private[graft] val quantilePs: Seq[(String, Double)] =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
  private[graft] val winsorLo = 0.05
  private[graft] val winsorHi = 0.95
  private[graft] val typeWeights: Seq[(String, Double)] = Seq(
    "click" -> 0.5, "error" -> 0.1, "purchase" -> 2.0,
    "signup" -> 1.5, "view" -> 0.25)
  private[graft] val valueBands: Seq[(String, Double, Double)] = Seq(
    ("nano", 0.0, 10.0), ("small", 10.0, 50.0), ("mid", 50.0, 150.0),
    ("large", 150.0, 400.0), ("huge", 400.0, 1000.0))
  private[graft] val rangeBucketWidth = 50.0
  private[graft] val histogramWidth = 25.0
  private[graft] val equiDepthK = 4
  // snapshot-diff synthetic edit moduli (single-sourced with the oracle)
  private[graft] val snapRemovedMod = 97L
  private[graft] val snapChangedMod = 89L
  private[graft] val snapAddedMod = 101L
  private[graft] val snapAddedOffset = 100000000L
  // fuzzy dedup: keep candidate pairs with edit ratio <= 1/5
  private[graft] val fuzzyRatioNum = 1
  private[graft] val fuzzyRatioDen = 5
  private[graft] val funnelStageNames = Seq("signup", "click", "purchase")
  private[graft] val pageRankIters = 5
  // label-propagation rounds (shared with OraclesExt.labelPropagation
  // — the quantized trajectory is the cross-engine contract)
  private[graft] val lpaIters = 4
  private[graft] val bootstrapReplicates = 32
  // refine stage recalls 30 ADC candidates before the exact rerank
  private[graft] val pqRefineCandidateK = 30
  // PQ geometry: 64 dims → 4 subspaces × 16 dims, 16-entry codebooks
  private[graft] val pqM = 4
  private[graft] val pqKsub = 16
  private[graft] val pqDims = 64
  private[graft] val bpePairsK = 20
  private[graft] val zipfTopV = 500
  private[graft] val epochBudgetTokens = 200000L
  private[graft] val epochMaxRepeats = 4
  private[graft] val kCoreK = 4
  private[graft] val kCoreRounds = 10
  // daily-series autocorrelation lags (weekly rhythm needs lag 7)
  private[graft] val acfMaxLag = 7
  // split-conformal target coverage 9/10 (exact rational, never 0.9)
  private[graft] val conformalCovNum = 9
  private[graft] val conformalCovDen = 10
  // Mann–Whitney cohorts: the two sources whose length distributions
  // the rank-sum test compares
  private[graft] val mwGroupA = "src0"
  private[graft] val mwGroupB = "src1"
  private[graft] val bpeRounds = 3
  // graded decontamination: flag docs whose shingle-overlap fraction
  // with the held-out set reaches this share (PaLM-style rule)
  private[graft] val decontamFracThreshold = 0.2
  // SQ8 search: candidates recalled from the quantized scores before
  // the exact rerank (3× the returned k)
  private[graft] val sq8Rerank = 30
  // containment dedup: flag pairs where the smaller shingle set is
  // ≥ 90% contained in the larger (Broder containment)
  private[graft] val containmentThreshold = 0.9
  // association rules: min pair support and report size
  private[graft] val assocMinSupport = 3L
  private[graft] val assocK = 50
  // link prediction: report size and the hub cap bounding the
  // deg²-sized common-neighbor expansion
  private[graft] val linkPredK = 50
  private[graft] val linkPredMaxDegree = 64
  // compaction planner: target output-file size for the manifest bins
  private[graft] val compactionTargetBytes = 8000L
  // sorted-neighborhood blocking: slide window and prefix-block length
  private[graft] val snmWindow = 4
  private[graft] val snmBlockLen = 4
  // Fellegi–Sunter comparison vector over the part candidate pairs
  private[graft] val linkageFields = Seq("p_brand", "p_type", "p_size")
  // personalized-PageRank teleport set: one brand's parts
  private[graft] val pprSeedBrand = "Brand#4"
  // hard-negative mining band: below the near-dup/positive ceiling,
  // above the trivially-easy floor (synthetic corpus cosines top out
  // ~0.4; p90 ≈ 0.16, p99 ≈ 0.28 — the band is the informative tail)
  private[graft] val hardNegFloor = 0.20
  private[graft] val hardNegCeiling = 0.35
  // MMR diversified rerank: greedy picks from the candidate pool
  private[graft] val mmrQueryIds = Seq(0L, 1L, 2L)
  private[graft] val mmrCandidateK = 20
  private[graft] val mmrSelectK = 5
  // Fellegi–Sunter EM rounds (each is one CTE pass over <= 2^F rows)
  private[graft] val linkageEmIters = 5
  // matryoshka recall: prefix widths evaluated against the 64-dim truth
  private[graft] val matryoshkaDims = Seq(8, 16, 32, 64)
  // water-filling: token budget below the corpus total so the level
  // lands mid-distribution (small sources saturate, large ones cap)
  private[graft] val waterfillBudget = 15000L
  // RAKE: report size and the canonical phrase-length cap
  private[graft] val rakeK = 40
  private[graft] val rakeMaxPhraseLen = 4
  // proximity search: two mid-frequency terms and the NEAR window
  private[graft] val proxTermA = "spark"
  private[graft] val proxTermB = "window"
  private[graft] val proxWindow = 3
  // Good-Turing: report the first 10 frequency classes
  private[graft] val goodTuringMaxR = 10
  // HITS: two mutual-reinforcement rounds (exact integer regime)
  private[graft] val hitsIters = 2
  // RRF fusion: list depth, fused cut, and the canonical K=60
  private[graft] val rrfListK = 25
  private[graft] val rrfTopK = 10
  private[graft] val rrfKConst = 60
  // PSI drift: the canonical 10-bucket scorecard binning
  private[graft] val psiBins = 10
  // winnowing: the MOSS defaults scaled to these short synthetic docs
  // (guarantee threshold k+w-1 = 11 chars)
  private[graft] val winnowK = 8
  private[graft] val winnowW = 4
  // canary scan: two phrases present in the synthetic vocabulary plus
  // one guaranteed-absent control (hits for it would flag a scan bug)
  private[graft] val canaryStrings =
    Seq("merge batch", "window table", "zz-absent-canary")
  // reshard plan: the 8→10 grow with 32 vnodes/shard
  private[graft] val reshardOld = 8
  private[graft] val reshardNew = 10
  private[graft] val reshardVnodes = 32
  // vocab budget curve: candidate tokenizer sizes bracketing this
  // synthetic vocabulary (~40 words + numerics)
  private[graft] val vocabCuts = Seq(5, 10, 20, 40, 100)
  // burstiness: floor rare noise, report the full small vocabulary
  private[graft] val burstMinCf = 10L
  private[graft] val burstK = 30
  // KMV period overlap: mid-month split of the 2024-01 event window
  private[graft] val kmvSplitDate = "2024-01-16"
  // frame plan: 2 fps cadence on the 8 ms/byte stub clock
  private[graft] val frameIntervalMs = 500L
  private[graft] val frameMsPerByte = 8L
  // daily type-mix drift: the PSI-scale "investigate" line in nats
  private[graft] val typeMixThreshold = 0.001
  // SPRT design: H0/H1 purchase shares bracketing the observed ~0.198
  // so the stream actually crosses a boundary, classic 5% errors
  private[graft] val sprtSuccessType = "purchase"
  private[graft] val sprtP0 = 0.18
  private[graft] val sprtP1 = 0.20
  private[graft] val sprtAlpha = 0.05
  private[graft] val sprtBeta = 0.05
  // blocklist phrases: three lengths + a guaranteed miss (no quotes —
  // interpolated into the oracle as SQL literals)
  private[graft] val blocklistPhrases = Seq(
    "vector", "table table", "slow query", "fast merge batch",
    "purple elephant marches")
  private[graft] val vocabSize = 20
  private[graft] val chunkMaxTokens = 32
  private[graft] val chunkOverlap = 4
  // duplicated-span detection: positional n-gram size + min distinct
  // docs for a span to count as duplicated (shared with oracle twin)
  private[graft] val dupSpanN = 5
  private[graft] val dupSpanMinDocs = 2L
  private[graft] val retentionMaxOffset = 14L
  // mergeable-quantile rollup granularity (shared with the oracle)
  private[graft] val rollupDaysPerBucket = 7L
  // SemDeDup cell pruning: nlist IVF cells, each vector probes its
  // nprobe nearest (shared with OraclesExt.semDedupPairs)
  private[graft] val semDedupNlist = 16
  private[graft] val semDedupNprobe = 2
  // Corpus-adaptive nlist for the LOW-threshold pair queries.
  // IVF cost has two terms: centroid ASSIGNMENT (n·nlist dots) and
  // within-cell CANDIDATES (≈ nprobe·n·cellSize = nprobe·n²/nlist
  // dots). nlist ∝ n makes candidates linear but assignment quadratic
  // (the sf10 sweep ground on 200k × 1600 assignment dots); nlist ∝
  // √n balances both terms at O(n^1.5) — the standard IVF compromise.
  // max(16, ceil(√(n/2))): 16 at the driver's sf0.01 (n=200 → √100 =
  // 10 → floor 16, EXACTLY the historical literal, so the correctness
  // gate's hashes are unchanged), 32 at sf0.1, 100 at sf1, 316 at
  // sf10. The oracle twins derive the same value in SQL.
  // The count runs on every call: a count memoized by input path would
  // serve a stale, result-shaping nlist after an out-of-band rewrite
  // of that path.
  private def adaptiveNlist(emb: DataFrame): Int =
    math.max(semDedupNlist.toDouble,
      math.ceil(math.sqrt(emb.count() / 2.0))).toInt
  private def adaptiveNlistOracle: String =
    OraclesExt.adaptiveNlistSql(semDedupNlist)
  // k-means cluster profile: 16 clusters, 2 Lloyd refinements —
  // single-sourced so the Spark query and oracle SQL cannot drift.
  private[graft] val kmeansNlist = 16
  private[graft] val kmeansRefine = 2
  private[graft] val clusterSampleCap = 20
  // k-fold CV assignment (shared with OraclesExt.kfold)
  private[graft] val kfoldK = 5
  // exact-budget sample size (shared with OraclesExt.sampleFixed)
  private[graft] val fixedSampleN = 100
  // chunk-level language-mix window (shared with OraclesExt.langIdChunks)
  private[graft] val langidChunkTokens = 16
  // TF-IDF keyword extraction (shared with OraclesExt.tfidfKeywords)
  private[graft] val tfidfK = 3
  // debounce gap (shared with OraclesExt.eventsDebounce)
  private[graft] val debounceGapSeconds = 60L
  // anomaly flags (shared with OraclesExt.eventsAnomaly)
  private[graft] val anomalyWindowDays = 7
  private[graft] val anomalyK = 2.0
  private[graft] val anomalyMinDays = 3
  // PMI collocations (shared with OraclesExt.pmiBigrams)
  private[graft] val pmiMinCount = 5L
  private[graft] val pmiK = 50
  // data-check bounds (shared with OraclesExt.dataChecks)
  private[graft] val checkQtyLo = 1.0
  private[graft] val checkQtyHi = 50.0
  private[graft] val checkPriceLo = 0.0
  private[graft] val checkPriceHi = 50000.0
  private[graft] val bm25Terms = Seq("spark", "window", "merge")
  private[graft] val prfFbDocs = 10
  private[graft] val prfFbTerms = 25
  private[graft] val bloomSkipShards = 8
  private[graft] val bloomSkipMBits = 1L << 17
  private[graft] val bloomSkipK = 5
  private[graft] val bloomSkipProbeDoc = 7L
  private[graft] val bm25K = 20
  private[graft] val bm25K1 = 1.2
  private[graft] val bm25B = 0.75
  private[graft] val hybridQueryVecId = 0L
  private[graft] val hybridCandidateK = 50
  private[graft] val hybridK = 10
  // deterministic Bloom filter: 2^17 bits / 5 hashes → fpr < 1e-5 at
  // the test scales; constants shared with OraclesExt.bloomDedup
  private[graft] val bloomBitsM = 1L << 17
  private[graft] val bloomK = 5
  // count-min sketch: depth 4 × width 512 (shared with the oracle)
  private[graft] val cmsDepth = 4
  private[graft] val cmsWidth = 512
  private[graft] val cmsProbeMax = 20L
  // Tukey fence multiplier (boxplot standard) + skew-report top-k
  private[graft] val tukeyK = 1.5
  // MAD modified-z-score threshold (Iglewicz–Hoaglin classic)
  private[graft] val madK = 3.5
  // decayed-feature snapshot instant (2024-02-01T00:00:00Z, past the
  // fixture's event range) and half-life (shared with
  // OraclesExt.decayedSum)
  private[graft] val decayRefUs = 1706745600000000L
  private[graft] val decayHalfLifeDays = 7.0
  private[graft] val skewReportK = 5
  // KMV sketch size (shared with OraclesExt.kmvRollup)
  private[graft] val kmvK = 256
  // ANN recall curve probe settings (shared with OraclesExt.annRecall);
  // includes nprobe = nlist so the curve visibly tops out at 1.0
  private[graft] val annRecallNprobes = Seq(1, 2, 4, 16)
  // DSIR importance resampling: target = English reference slice,
  // Gumbel top-k budget (shared with OraclesExt.importanceWeights /
  // dsirSample)
  private[graft] val dsirTargetLang = "en"
  private[graft] val dsirK = 100
  private[graft] val dsirSalt = "dsir"
  // deterministic training-order shuffle (shared with
  // OraclesExt.shuffleOrder)
  private[graft] val shuffleShards = 32
  private[graft] val shuffleSalt = "shuffle"
  // logistic-regression quality classifier: full-batch GD rounds +
  // learning rate (shared with OraclesExt.logregTrain/logregPredict)
  private[graft] val logregIters = 3
  private[graft] val logregLr = 1.0
  // boilerplate template detector: bigram shingles, ≥20% of a
  // source's docs (shared with OraclesExt.boilerplate; 2/20 chosen so
  // the fixture corpus actually crosses the bar — 2-gram df tops out
  // at 32% per source at sf0.01, 3-gram at 12%)
  private[graft] val boilerplateN = 2
  private[graft] val boilerplateMinDocPct = 20
  // classifier reliability bins (shared with OraclesExt.logregCalibration)
  private[graft] val calibrationBins = 10
  // χ² feature selection top-k (shared with OraclesExt.discriminativeTokens)
  private[graft] val tokenChisqK = 10
  // embedding cluster-outlier z bar (shared with
  // OraclesExt.clusterOutliers; 1.5 chosen against the fixture's
  // measured z distribution — a 2.0 bar returns ZERO rows at sf0.01,
  // making the oracle check vacuous: 1.5 yields 11/7/33 outliers at
  // sf0.001/0.01/0.1)
  private[graft] val outlierZ = 1.5
  // top-k 3-step event paths (shared with OraclesExt.eventPaths)
  private[graft] val eventPathsK = 20
  // trailing active-user window (shared with OraclesExt.activeUsers)
  private[graft] val wauWindowDays = 7
  // Neyman eval-budget (shared with OraclesExt.neymanAllocation)
  private[graft] val neymanBudget = 1000L
  // Markov-attribution value-iteration rounds (shared with
  // OraclesExt.markovAttribution — the quantized trajectory is the
  // cross-engine contract)
  private[graft] val markovIters = 60
  // A/B allocation (shared with OraclesExt.abSrm)
  private[graft] val abVariants: Seq[(String, Double)] =
    Seq(("control", 0.5), ("treat_a", 0.25), ("treat_b", 0.25))
  private[graft] val abSalt = "exp1"
  // gate FPR targets + periodicity lags (shared with the oracles)
  private[graft] val gateAlphas = Seq(0.01, 0.05, 0.10)
  private[graft] val autocorrLags = Seq(1, 7)
  // campaign windows over the fixture's Jan-2024 event range, half-open
  // [lo, hi) in epoch-µs at day granularity (day 19723 = 2024-01-01;
  // shared with OraclesExt.campaignOverlap)
  private[graft] val campaignWindows: Seq[(Int, Long, Long)] = {
    val dayUs = 86400000000L
    Seq((1, 19725L, 19730L), (2, 19732L, 19735L),
      (3, 19737L, 19745L), (4, 19747L, 19751L))
      .map { case (id, lo, hi) => (id, lo * dayUs, hi * dayUs) }
  }

  // Stats-module parameters (shared with the OraclesExt twins).
  // Heavy-hitter sketch capacity: exact results above frequency
  // 1/(capacity+1) — 33⁻¹ ≈ 3% clears the fixture's ~3.5% top token.
  private[graft] val hhCapacity = 32
  private[graft] val kAnonK = 5
  // CUPED pre/post split over the fixture's Jan-2024 event range
  private[graft] val cupedSplitTs = "2024-01-16 00:00:00"
  private[graft] val isotonicBins = 50
  // skipping report layout/probe sizing (shared with the oracle twin)
  private[graft] val skipFiles = 64
  private[graft] val skipProbes = 50
  private[graft] val kmStartType = "signup"
  private[graft] val kmEndType = "purchase"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Tables.register(spark, "/root/testdata/sf0.001")
    TableProfiler.profileTable(spark, "lineitem")
  }

  private def withTables(f: SparkSession => DataFrame): (SparkSession, String) => DataFrame =
    (spark, sfDir) => { Tables.register(spark, sfDir); f(spark) }

  private def withTablesSf(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, sfDir) => { Tables.register(spark, sfDir); f(spark, sfDir) }

  // Persisted-index queries (q_knn_ivf_indexed, q_bm25_indexed) build
  // their on-disk index once per (kind, sfDir) per JVM and probe the
  // cached copy on every subsequent call. The index is a deterministic
  // function of the input table, so reuse cannot change results; it
  // separates the one-time build cost from the probe the operator
  // exists to demonstrate (partition-pruned scans). Bench pre-builds
  // via [[prewarmIndexes]] so its recorded timings are probe-only —
  // exactly how a production index amortizes over queries.
  private val indexDirs = scala.collection.concurrent.TrieMap[(String, String), String]()
  private def cachedIndexDir(s: SparkSession, kind: String, sfDir: String)(
      build: String => Unit): String =
    indexDirs.getOrElseUpdate((kind, sfDir), {
      // EngineScratch seam: on a cluster, set spark.graft.scratchDir
      // to a shared FS — every persisted index the 100 TB story leans
      // on is built here (VERDICT r12 "What's missing" #1)
      val dir = graft.EngineScratch.dir(s, s"graft-$kind-index")
      build(dir)
      dir
    })

  private def ivfIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "ivf", sfDir) { d =>
      Similarity.writeIvfIndex(s.table("embeddings"), d, nlist = 16)
    }

  // Persisted cellPairs probe structure (nlist = the corpus-adaptive
  // value, nprobe = semDedupNprobe — the exact parameters
  // q_curate_semantic mines with, so the indexed query is
  // bit-identical to the in-memory form and shares its oracle).
  private def cellIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "cellidx", sfDir) { d =>
      val emb = s.table("embeddings")
      Similarity.writeCellIndex(emb, d,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
    }

  private def bloomSkipDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "bloomskip", sfDir) { d =>
      Sharding.writeShards(
        s.table("documents").withColumn("content_key", md5(col("text"))),
        s"$d/data", numShards = bloomSkipShards)
      Sharding.writeBloomSkipIndex(s, s"$d/data", s"$d/index",
        "content_key", bloomSkipMBits, bloomSkipK)
    }

  private def searchIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "search", sfDir) { d =>
      graft.ext.Search.writeSearchIndex(s.table("documents"), d)
    }

  private def ivfPqIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "ivfpq", sfDir) { d =>
      Similarity.writeIvfPqIndex(s.table("embeddings"), d, nlist = 16,
        m = pqM, ksub = pqKsub, dims = pqDims)
    }

  private def nearDupIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "neardup", sfDir) { d =>
      Dedup.writeNearDupIndex(
        s.table("documents").filter(col("doc_id") % 10 =!= 0), d)
    }

  // CSV/JSON staged copies of the small dim tables — the two mundane
  // text ingestion formats a pipeline tool meets first. Written once
  // per (format, sfDir) FROM the parquet source, so the q_*_source
  // queries exercise the full text decode path (quoting, header,
  // number parsing) while the DuckDB oracle runs on the parquet
  // originals: a value mismatch means the round-trip corrupted data.
  // Explicit schemas on read, never inferSchema — inference is a
  // whole extra pass over the data at 100 TB.
  private def csvSourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "csvsrc", sfDir) { d =>
      s.table("nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$d/nation")
    }

  private def jsonSourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "jsonsrc", sfDir) { d =>
      // Jackson emits shortest-round-trip doubles, so s_acctbal
      // survives the text hop bit-exactly.
      s.table("supplier").coalesce(1).write.mode("overwrite")
        .json(s"$d/supplier")
    }

  // The WRITE half of the text-format surface: customer staged once
  // through the ENGINE'S OWN pinned-option CSV sink
  // (graft.sources.FileSinks) — where csvSourceDir exercises only the
  // read path on a Spark-default-written file, this exercises
  // writeCsv ∘ readCsv as a pair; the DuckDB oracle still runs on the
  // parquet original, so hash-green proves the full round trip
  // (RFC-4180 quoting, null sentinel, double text encoding) lossless.
  private def csvSinkDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "csvsink", sfDir) { d =>
      graft.sources.FileSinks.writeCsv(s.table("customer"), s"$d/customer")
    }

  // Deterministic TableLog demo: a 4-commit history over the orders
  // payload (init / append / copy-on-write merge / compaction), the
  // fixture q_table_history time-travels. Every version's row set is
  // a pure function of `orders`, so the oracle reconstructs each
  // state relationally.
  private def tableLogDemoDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tablelog", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      TableLog.init(o.filter(col("o_orderkey") % 4 === 0), d)
      TableLog.append(o.filter(col("o_orderkey") % 4 === 1), d)
      val changes = o.filter(col("o_orderkey") % 8 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(o.filter(col("o_orderkey") % 8 === 4)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("op", lit("upsert")))
        .unionByName(o.filter(col("o_orderkey") % 4 === 2)
          .withColumn("op", lit("upsert")))
      TableLog.merge(changes, d, "o_orderkey")
      TableLog.compact(s, d, targetFiles = 1)
    }

  // MERGE-SQL demo (VERDICT r13 task 6): a TableLog table whose final
  // state is produced by executing ANSI MERGE TEXT through the
  // dialect's DML surface (graft.exec.MergeSql) — delete, partial-SET
  // update (o_custkey must stay the TARGET's: the source deliberately
  // ships a shifted custkey so a compiler that wrongly took the
  // source value hash-fails), conditional insert, and untouched
  // survivors, all in one statement. The oracle reconstructs the
  // merged state relationally from orders.
  private[graft] val mergeSqlText =
    """MERGE INTO orders_tl AS t
      |USING (
      |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
      |         o_totalprice * 2 AS o_totalprice, o_orderkey % 16 AS m
      |  FROM orders WHERE o_orderkey % 16 IN (0, 1, 4, 9)
      |) AS s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED AND s.m = 0 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED AND s.m <> 9 THEN
      |  INSERT (o_orderkey, o_custkey, o_totalprice)
      |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)""".stripMargin
  private def mergeSqlDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesql", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlText, d)
      ()
    }

  // Composite-key MERGE demo (VERDICT r14 task 5): the target keys on
  // (o_orderkey, o_custkey) and the source deliberately ships HALF its
  // rows with a shifted custkey — those match on the simple key but
  // NOT on the composite, so a compiler that joined on o_orderkey
  // alone would update rows the composite statement must insert
  // (hash-fail by construction).
  private[graft] val mergeSqlCompositeText =
    """MERGE INTO orders_tlc AS t
      |USING (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 8 = 4 THEN o_custkey + 5000000
      |              ELSE o_custkey END AS o_custkey,
      |         o_totalprice * 3 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 0
      |) AS s
      |ON t.o_orderkey = s.o_orderkey AND t.o_custkey = s.o_custkey
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED THEN
      |  INSERT (o_orderkey, o_custkey, o_totalprice)
      |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)""".stripMargin
  private def mergeSqlCompositeDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesqlc", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlCompositeText, d)
      ()
    }

  // WHEN NOT MATCHED BY SOURCE demo (VERDICT r14 task 7): the
  // full-sync MERGE — rows still in the feed update, rows that LEFT
  // the feed are deleted when the guard condition holds, everything
  // else survives. The guard references TARGET columns only (the row
  // has no source match by definition).
  private[graft] val mergeSqlBySourceText =
    """MERGE INTO orders_tlb AS t
      |USING (
      |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 8 = 0
      |) AS s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 2 = 0 THEN DELETE""".stripMargin
  private def mergeSqlBySourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesqlb", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlBySourceText, d)
      ()
    }

  // Data-skipping demo (VERDICT r14 task 1): the orders payload as a
  // 4-commit TableLog table whose files hold DISJOINT o_orderkey
  // quarters (one file per commit, so the file↔range map is exact).
  // A selective readWhere over it must prune to exactly the files
  // whose zone maps overlap the predicate — q_tablelog_skipping pins
  // the scanned-file count in its oracle, making the pruning itself
  // hash-checked, not just spec-asserted.
  private def tableLogSkipDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlskip", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val m = o.agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
      // lower sentinel -1: order keys start at 0 in the fixtures
      val bounds = Seq(-1L, m / 4, m / 2, 3 * m / 4, m)
      def slice(i: Int) = o.filter(col("o_orderkey") > bounds(i) &&
        col("o_orderkey") <= bounds(i + 1)).coalesce(1)
      TableLog.init(slice(0), d)
      (1 to 3).foreach(i => TableLog.append(slice(i), d))
    }

  // Schema-evolution demo (VERDICT r14 task 7): version 0 carries
  // two columns; version 1 appends a THIRD (o_flag) under the
  // explicit mergeSchema flag. The merged read must surface the old
  // files' missing column as NULL and the new file's values exactly —
  // both pinned relationally by the oracle.
  private def tableLogEvolveDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlevolve", sfDir) { d =>
      val o = s.table("orders").select("o_orderkey", "o_totalprice")
      TableLog.init(o.filter(col("o_orderkey") % 4 === 0).coalesce(1), d)
      TableLog.append(o.filter(col("o_orderkey") % 4 === 1)
        .withColumn("o_flag", (col("o_orderkey") % 7).cast("long"))
        .coalesce(1), d, mergeSchema = true)
      ()
    }

  // Streaming ingest-with-maintenance demo (VERDICT r13 task 7):
  // orders arrives as 4 equal-keyspace micro-batches (one file per
  // trigger, coalesce(1) so every append is exactly one data file);
  // appendStreamCompacting compacts whenever live files exceed 2.
  // The OP SEQUENCE and per-commit file counts are then fully
  // determined by the policy — (init, append, append, COMPACT at
  // live=3, append) — independent of batch arrival order, and the
  // final content equals orders exactly; both facts are what
  // q_table_compaction hashes.
  private def tableCompactionDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlcompact", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      (0 to 3).foreach(r => o.filter(col("o_orderkey") % 4 === r)
        .coalesce(1).write.parquet(s"$d/in/b$r"))
      val q = TableLog.appendStreamCompacting(
        s.readStream.schema(o.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(s"$d/in"),
        s"$d/tbl",
        graft.EngineScratch.dir(s, "graft-ckpt-tlcompact"),
        maxLiveFiles = 2)
      // a timeout here must fail AT THE BUILD SITE — returning
      // normally would cache a partially-ingested table and surface
      // only as an opaque q_table_compaction hash mismatch (ADVICE r14)
      require(q.awaitTermination(120000L),
        "table-compaction ingest did not finish within 120 s")
      ()
    }

  /** Build every persisted index for `sfDir` (idempotent). Bench calls
    * this in its untimed setup, same category as view registration.
    */
  def prewarmIndexes(spark: SparkSession, sfDir: String): Unit = {
    Tables.register(spark, sfDir)
    ivfIndexDir(spark, sfDir)
    searchIndexDir(spark, sfDir)
    bloomSkipDir(spark, sfDir)
    ivfPqIndexDir(spark, sfDir)
    nearDupIndexDir(spark, sfDir)
    tableLogDemoDir(spark, sfDir)
    mergeSqlDir(spark, sfDir)
    mergeSqlCompositeDir(spark, sfDir)
    mergeSqlBySourceDir(spark, sfDir)
    tableLogSkipDir(spark, sfDir)
    tableLogEvolveDir(spark, sfDir)
    tableCompactionDir(spark, sfDir)
    cellIndexDir(spark, sfDir)
  }

  // Shared intermediate relations, computed once per (kind, sfDir) per
  // JVM and checkpointed — the in-memory sibling of the persisted
  // indexes above. Two families qualify: the k-means ASSIGNMENT
  // (q_embedding_kmeans profiles it, q_cluster_sample picks from it —
  // without sharing, each pays the full centroid pipeline), and the
  // curateFull VERDICTS (q_curate_full delivers them, q_curation_funnel
  // walks their gates — the funnel re-derived the whole LSH-dedup
  // chain). Both are deterministic functions of the input tables, so
  // reuse cannot change results; this is exactly how a production
  // pipeline structures it (one clustering / one verdict pass, many
  // reports).
  // Keyed by (applicationId, kind, sfDir), NOT just (kind, sfDir): the
  // cached frame holds a localCheckpoint RDD bound to the session that
  // built it, so a restarted/second session in the same JVM must
  // rebuild rather than inherit a handle into a stopped SparkContext.
  // Entries for stopped sessions are a few driver-side references
  // each (the checkpoint blocks die with their context) — no eviction
  // needed at this cardinality.
  private val sharedFrames =
    scala.collection.concurrent.TrieMap[(String, String, String), DataFrame]()
  private def sharedFrame(s: SparkSession, kind: String, sfDir: String)(
      build: => DataFrame): DataFrame =
    sharedFrames.getOrElseUpdate(
      (s.sparkContext.applicationId, kind, sfDir), Share.checkpoint(build))

  private def kmeansAssigned(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "kmeans_assign", sfDir) {
      Similarity.kmeansAssign(s.table("embeddings"),
        nlist = kmeansNlist, refine = kmeansRefine)
    }

  private def curateFullVerdicts(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "curate_full", sfDir) {
      Curation.curateFull(s.table("documents"))
    }

  // One clustering, many reports: q_dedup_keep_best and
  // q_dedup_savings COMPOSE the cluster assignment; q_dedup_clusters
  // keeps computing its own so the bench still measures the
  // components operator itself (the profiler-family rule).
  private def nearDupClustersShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "neardup_clusters", sfDir) {
      Dedup.nearDupClusters(s.table("documents"))
    }

  private def importanceWeightsShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "importance", sfDir) {
      val docs = s.table("documents")
      graft.ext.Importance.importanceWeights(docs,
        docs.filter(col("lang") === dsirTargetLang))
    }

  // One training run, many reports: q_logreg keeps paying the full GD
  // (the bench measures the operator); predict / PR / calibration
  // score against the shared 1-row weights frame.
  private def logregWeightsShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "logreg_weights", sfDir) {
      graft.ext.LogReg.finalWeights(s.table("documents"),
        col("lang") === dsirTargetLang, iters = logregIters, lr = logregLr)
    }

  // One bipartite projection, five graph operators: triangles, k-core,
  // link prediction, communities and personalized PageRank all read
  // the SAME co-purchase edge list — deriving it is input
  // construction (basket groupBy + ordered-pair generate + distinct),
  // not the graph operator under measurement, so it is shared like the
  // diff profiles; each operator's own materialize sees the
  // checkpointed leaf and skips the copy.
  private def coPurchaseEdges(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "copurchase_edges", sfDir) {
      graft.ext.Graph.coOccurrenceEdges(
        s.table("lineitem"), "l_orderkey", "l_partkey")
    }

  /** Force-build every shared frame for `sfDir`, returning
    * `(name, seconds)` per build. Bench records these as explicit
    * `setup_*` entries so the one-time construction cost (k-means
    * assignment, curation verdicts, DSIR weights, diff profiles) is
    * attributed in the artifact instead of hiding in an unrecorded
    * first run (ADVICE r6).
    */
  def buildSharedFrames(s: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def timed(name: String)(f: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      f.queryExecution // materialize is eager; touch to be explicit
      (name, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      timed("setup_kmeans_assign") { kmeansAssigned(s, sfDir) },
      timed("setup_curate_full") { curateFullVerdicts(s, sfDir) },
      timed("setup_neardup_clusters") { nearDupClustersShared(s, sfDir) },
      timed("setup_importance") { importanceWeightsShared(s, sfDir) },
      timed("setup_profile_long_lineitem") { profileLongShared(s, sfDir, "lineitem") },
      timed("setup_profile_long_orders") { profileLongShared(s, sfDir, "orders") },
      timed("setup_logreg_weights") { logregWeightsShared(s, sfDir) },
      timed("setup_copurchase_edges") { coPurchaseEdges(s, sfDir) })
  }

  // Long profiles shared by the DIFF composition only (the reference's
  // own workflow profiles both tables, then diffs the results —
  // aws-athena.sh:183-196). The per-table q_profile_* queries keep
  // computing their own profiles so the bench keeps measuring the
  // profiler operator itself. A long profile is already a driver-side
  // LocalRelation, so it is kept as is, not checkpointed.
  private def profileLongShared(s: SparkSession, sfDir: String,
      table: String): DataFrame =
    sharedFrames.getOrElseUpdate(
      (s.sparkContext.applicationId, s"profile_long_$table", sfDir),
      TableProfiler.profileLong(Tables.table(s, table)))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4/§3.2 — the flagship profiler, wide (pivoted) and long forms.
    "q_profile_lineitem" -> withTables { s =>
      TableProfiler.profileTable(s, "lineitem")
    },
    "q_profile_lineitem_long" -> withTables { s =>
      TableProfiler.profileLong(s.table("lineitem"))
        .orderBy("column_name", "agg_type")
    },
    "q_profile_orders" -> withTables { s =>
      TableProfiler.profileTable(s, "orders")
    },
    // §2.4 — exact profile of a WIDE-RANGE surrogate-key column
    // (range ≫ 10⁷): pins the profiler's coarse std-quantization
    // regime and the decimal(38,0) su6 display path in the oracle
    // gate at sf0.01 — the envelope the sf1 sweep overflowed is now
    // correctness-checked every round, next to a fine-regime column
    // in the same profile so both branches hash in one query.
    "q_profile_wide_keys" -> withTables { s =>
      TableProfiler.profileLong(s.table("lineitem").selectExpr(
          "l_orderkey * 1000000 AS wide_key", "l_quantity"))
        .orderBy("column_name", "agg_type")
    },
    "q_profile_customer" -> withTables { s =>
      TableProfiler.profileTable(s, "customer")
    },
    // §2.4 — profile over a NULL-bearing numeric column (events.value
    // is nullable): count/distinct/sum skip nulls identically in both
    // engines; the value-counts relation simply has no row for null.
    "q_profile_events" -> withTables { s =>
      TableProfiler.profileTable(s, "events")
    },
    // §2.1/§1.1 — information_schema.columns scan with the reference's
    // conjunctive WHERE (aws-athena.sh:175-176).
    "q_infoschema_lineitem" -> withTables { s =>
      InfoSchema.columnsOf(s, "spark_catalog", "default", "lineitem")
        .orderBy("ordinal_position")
    },
    // §2.2 — numeric-type regex predicate (aws-athena.sh:68).
    "q_infoschema_numeric_filter" -> withTables { s =>
      InfoSchema.columnsOf(s, "spark_catalog", "default", "lineitem")
        .filter(col("data_type").rlike(graft.catalog.TrinoTypes.NumericTypeRegex))
        .orderBy("ordinal_position")
        .select("table_name", "column_name", "data_type")
    },
    // §3.2 — the vimdiff flagship as a structured relational diff
    // (full-outer join of two long profiles; SURVEY.md §2.3). Reads
    // the shared long profiles, built once per session — the
    // reference's own workflow profiles both tables THEN diffs the
    // results, so the diff is a composition of reports, not a third
    // profiling pass.
    "q_profile_diff" -> withTablesSf { (s, sfDir) =>
      graft.profile.TableDiff.diffFrom(
        profileLongShared(s, sfDir, "lineitem"),
        profileLongShared(s, sfDir, "orders"))
    },
    // §3.1 — arbitrary-SQL passthrough (query/file commands).
    "q_pricing_summary" -> withTables { s => s.sql(pricingSummarySql) },
    "q_top_orders" -> withTables { s => s.sql(topOrdersSql) },
    "q_semi_anti" -> withTables { s => s.sql(semiAntiSql) },
    "q_not_in_null" -> withTables { s => s.sql(notInNullSql) },
    "q_window_analytics" -> withTables { s => s.sql(windowAnalyticsSql) },
    "q_string_funcs" -> withTables { s => s.sql(stringFuncsSql) },
    "q_datetime_funcs" -> withTables { s => s.sql(datetimeFuncsSql) },
    "q_set_ops" -> withTables { s => s.sql(setOpsSql) },
    "q_revenue_by_nation" -> withTables { s => s.sql(revenueByNationSql) },
    "q_market_share" -> withTables { s => s.sql(marketShareSql) },
    "q_top_supplier" -> withTables { s => s.sql(topSupplierSql) },
    "q_shipping_priority" -> withTables { s => s.sql(shippingPrioritySql) },
    "q_forecast_revenue" -> withTables { s => s.sql(forecastRevenueSql) },
    "q_rollup_pricing" -> withTables { s => s.sql(rollupPricingSql) },
    "q_local_supplier_volume" -> withTables { s =>
      s.sql(localSupplierVolumeSql)
    },
    "q_cube_pricing" -> withTables { s => s.sql(cubePricingSql) },
    "q_grouping_sets" -> withTables { s => s.sql(groupingSetsPricingSql) },
    "q_window_ranks" -> withTables { s => s.sql(windowRanksSql) },
    // §7.5 — Markov transition edges over user event streams (one
    // user shuffle + an O(types²) roll-up).
    "q_event_transitions" -> withTables { s =>
      Events.eventTransitions(s.table("events"))
    },
    // §7.5 — behavior predictability: conditional next-event entropy
    // per from-state (low = templated/bot flows; drift alarm).
    "q_transition_entropy" -> withTables { s =>
      Events.transitionEntropy(s.table("events"))
    },
    // ...and the sequence-mining big sibling: which concrete 3-step
    // journeys dominate (funnel discovery; top-k plans as
    // TakeOrderedAndProject).
    "q_event_paths" -> withTables { s =>
      Events.eventPaths(s.table("events"), k = eventPathsK)
    },
    // ...and the data-driven attribution member: Markov removal
    // effects (relational journey transitions; the bounded-matrix
    // solve replays as 60 quantized rounds in both engines).
    "q_attrib_markov" -> withTables { s =>
      graft.ext.Attribution.markovRemovalEffects(s.table("events"),
        iters = markovIters)
    },
    // U-shaped multi-touch attribution: 40/20/40 credit across each
    // conversion's journey touches (forward as-of, journey-bounded
    // windows).
    "q_attrib_ushape" -> withTables { s =>
      Events.uShapedAttribution(s.table("events"))
        .orderBy("conv_id", "position")
    },
    // DAU / trailing-7-day actives / stickiness — rolling DISTINCT
    // via bounded day-explode, never a distinct-over-window.
    "q_active_users" -> withTables { s =>
      Events.activeUsers(s.table("events"), windowDays = wauWindowDays)
    },
    // Per-campaign session reach via the bucketed interval-overlap
    // join (equi-join on day buckets — never |sessions|·|campaigns|).
    "q_campaign_overlap" -> withTables { s =>
      Events.campaignOverlap(s.table("events"), campaignWindows)
    },
    // Seasonality check for the forecaster family: per-type lag-1/7
    // autocorrelation of the DENSIFIED daily counts.
    "q_event_periodicity" -> withTables { s =>
      Events.dailyAutocorrelation(s.table("events"), lags = autocorrLags)
    },
    // §7.5 — positional proximity search (NEAR operator): docs where
    // the two terms co-occur within a token window — the phrase-level
    // signal BM25's bag of words cannot express.
    "q_proximity_search" -> withTables { s =>
      graft.ext.Search.proximityPairs(s.table("documents"),
        proxTermA, proxTermB, proxWindow)
    },
    // §7.5 — sequential testing: Wald SPRT of the purchase share per
    // day — the early-stopping monitor a fixed-horizon test cannot
    // give, with alpha/beta guarantees intact.
    "q_sprt" -> withTables { s =>
      graft.ext.Stats.sprtMonitor(s.table("events"), sprtSuccessType,
        sprtP0, sprtP1, sprtAlpha, sprtBeta)
    },
    // §7.5 — arrival-regime alarm: Fano factor of daily counts
    // (1 ≈ Poisson, ≫1 bursty, <1 scheduled) — catches "same daily
    // total, different regime" that volume dashboards miss.
    "q_event_fano" -> withTables { s =>
      Events.fanoFactor(s.table("events"))
    },
    // §7.5 — mixture health: Shannon diversity of sources within each
    // language; effective_sources = exp(H) exposes the
    // one-source-holds-95% corpus a source COUNT hides.
    "q_source_diversity" -> withTables { s =>
      TextStats.sourceDiversity(s.table("documents"))
    },
    // §7.5 — vocabulary-growth planning: Good-Turing counts-of-counts;
    // the r=1 row's p_mass is the unseen-token mass estimate (how much
    // of the NEXT shard's vocabulary this corpus has never seen).
    "q_good_turing" -> withTables { s =>
      TextStats.goodTuring(s.table("documents"), goodTuringMaxR)
    },
    // §7.5 — ingest drift scorecard: Population Stability Index of the
    // doc-length distribution per source vs the pool (0.1/0.25 the
    // industry action thresholds).
    "q_psi_drift" -> withTables { s =>
      graft.ext.Stats.psiDrift(s.table("documents"), "source", "n_chars",
        psiBins)
    },
    // §7.5 — winnowing (MOSS) fingerprints: position-robust substring
    // sampling with the ≥ k+w−1 shared-substring guarantee that
    // fixed-stride fingerprinting loses when one byte shifts the frame.
    "q_winnowing" -> withTables { s =>
      TextStats.winnowingFingerprints(s.table("documents"), winnowK,
        winnowW)
    },
    // §7.5 — HITS hubs/authorities on the customer→part purchase
    // bipartite graph: side-aware mutual reinforcement (hub buyers ↔
    // authoritative parts) that PageRank's single score conflates.
    "q_hits" -> withTables { s =>
      Graph.hits(
        s.table("orders").join(s.table("lineitem"),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst")),
        iters = hitsIters)
    },
    // §7.5 — reciprocal-rank fusion of the BM25 and cosine top lists
    // (K=60): scale-free hybrid retrieval where a doc strong in EITHER
    // list survives — vs q_hybrid_search's recall→rerank cascade.
    "q_rrf_fusion" -> withTables { s =>
      graft.ext.Search.rrfFusion(s.table("documents"),
        s.table("embeddings"), bm25Terms, hybridQueryVecId, rrfListK,
        rrfTopK, rrfKConst, bm25K1, bm25B)
    },
    // §7.5 — hindsight level-shift localization: best single
    // change-point of each type's daily series (binary segmentation
    // depth 1) — WHERE the metric changed, vs q_cusum's "is it
    // drifting now" sequential alarm.
    "q_changepoint" -> withTables { s =>
      Events.bestChangepoint(s.table("events"))
    },
    // §7.5 — exact canary/secret audit: literal substring hits with
    // positions and occurrence counts; map-only, crosses token
    // boundaries the shingle decontamination tokenizes away.
    "q_canary_scan" -> withTables { s =>
      graft.ext.Decontamination.canaryScan(s.table("documents"),
        canaryStrings)
    },
    // §7.5 — multi-criteria curation shortlist: Pareto front over
    // (doc length, distinct tokens); per-length maxima + one window
    // over the bounded length domain — no all-pairs domination.
    "q_pareto_front" -> withTables { s =>
      graft.ext.Curation.paretoFront(s.table("documents"))
    },
    // §7.5 — consistent-hash reshard audit: the 8→10 movement matrix
    // under ring assignment (~1−8/10 of keys move vs mod-N's ~90%) —
    // the number a 100 TB re-layout decision needs first.
    "q_reshard_plan" -> withTables { s =>
      graft.ext.Sharding.reshardPlan(s.table("documents"), reshardOld,
        reshardNew, reshardVnodes)
    },
    // §7.5 — per-type daily-count OLS trend (exact integer sums →
    // one identically-shaped double expression; the "is this metric
    // growing" dashboard row).
    "q_events_trend" -> withTables { s =>
      Events.dailyTrend(s.table("events"))
    },
    "q_correlated_max" -> withTables { s => s.sql(correlatedMaxSql) },
    "q_order_count_dist" -> withTables { s => s.sql(orderCountDistSql) },
    "q_large_orders" -> withTables { s => s.sql(largeOrdersSql) },
    "q_nation_trade" -> withTables { s => s.sql(nationTradeSql) },
    "q_promo_share" -> withTables { s => s.sql(promoShareSql) },
    "q_returned_items" -> withTables { s => s.sql(returnedItemsSql) },
    "q_chisq_lang_source" -> withTables { s => s.sql(chisqSql) },
    "q_mi_lang_source" -> withTables { s => s.sql(miSql) },
    // §7.5 — streaming-bootstrap error bars: per-replicate Poisson(1)
    // weights from md5, map-side expansion + map-side collapse.
    "q_bootstrap_mean" -> withTables { s =>
      graft.ext.Sampling.poissonBootstrap(s.table("documents"), "n_chars",
        replicates = bootstrapReplicates)
    },
    // §7.5 — co-purchase graph triangles: bipartite (order, part)
    // projection → unique low→high edges → compact-forward triangle
    // enumeration, each triangle crediting its three corners.
    "q_copurchase_triangles" -> withTablesSf { (s, sfDir) =>
      graft.ext.Graph.triangleCounts(
        coPurchaseEdges(s, sfDir))
        .orderBy("node")
    },
    // §7.5 — k-core density backbone of the co-purchase graph
    // (iterative peeling; single-shot degree thresholds miss chains
    // of high-degree nodes hanging off the core).
    "q_kcore" -> withTablesSf { (s, sfDir) =>
      graft.ext.Graph.kCore(
        coPurchaseEdges(s, sfDir),
        k = kCoreK, rounds = kCoreRounds)
        .orderBy("node")
    },
    // §7.5 — resource-allocation link prediction over the same
    // co-purchase graph: hub-discounted common-neighbor scores for
    // pairs never bought together (assortment candidates; on a pair
    // graph, banding misses).
    "q_link_prediction" -> withTablesSf { (s, sfDir) =>
      graft.ext.Graph.linkPrediction(
        coPurchaseEdges(s, sfDir),
        k = linkPredK, maxDegree = linkPredMaxDegree)
    },
    // §7.5 — market-basket association rules over the same bipartite
    // relation: exact supports, one-division confidence/lift, top-k
    // by lift with a unique (antecedent, consequent) tiebreak.
    "q_assoc_rules" -> withTables { s =>
      graft.ext.Graph.associationRules(s.table("lineitem"),
        "l_orderkey", "l_partkey", assocMinSupport, assocK)
    },
    // §2.4 — unpivot (wide→long, the inverse of the profiler's pivot)
    // rolled up per metric: the map-side Expand never shuffles 4× the
    // table, partial aggregation collapses it to one row per
    // (partition, metric) first.
    "q_unpivot" -> withTables { s =>
      s.table("lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .groupBy("metric")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("val").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_val"),
          min(col("val")).as("min_val"),
          max(col("val")).as("max_val"))
        .orderBy("metric")
    },
    // §2.4 — conditional aggregation (FILTER-clause shape): the
    // source × language mix matrix every corpus dashboard starts
    // with; one map-side-combined shuffle, no pivot relation.
    "q_lang_source_matrix" -> withTables { s =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val d = s.table("documents")
      d.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          langs.map(l =>
            count(when(col("lang") === l, 1)).as(s"n_$l")) :+
            count(when(!col("lang").isin(langs: _*), 1)).as("n_other"): _*)
        .orderBy("source")
    },
    // §7.5 — latest-state snapshot over the event log (CDC "current
    // table" read); WindowGroupLimit keeps per-key top-1 before the
    // exchange, so the shuffle carries the snapshot, not the log.
    "q_latest_state" -> withTables { s =>
      Events.latestSnapshot(s.table("events")).orderBy("user_id")
    },
    // §7.5 extensions — deduplication family over `documents`.
    "q_dedup_exact" -> withTables { s =>
      Dedup.exact(s.table("documents")).orderBy("keep_id")
    },
    // §7.5 — normalization-first dedup: exact dedup keyed on the
    // canonicalized text (lowercase / punctuation-collapsed), the
    // standard cheap near-dup pass before MinHash. Map-only
    // normalize + the same single md5-keyed shuffle as q_dedup_exact.
    "q_dedup_normalized" -> withTables { s =>
      Dedup.exact(s.table("documents")
          .withColumn("text", TextStats.normalizeText(col("text"))))
        .orderBy("keep_id")
    },
    // the stop-shingle doc-frequency cap — the guard that keeps the
    // inverted-index self-join off quadratic hot keys at corpus scale
    // — single-sourced with the oracle's freq CTE via Dedup.
    "q_dedup_ngram_jaccard" -> withTables { s =>
      Dedup.ngramJaccardPairs(s.table("documents"), n = 3, threshold = 0.8,
        maxDocFreq = Dedup.NgramStopShingleCap).orderBy("id_a", "id_b")
    },
    // §7.5 — the dedup-stage trust number: precision/recall of LSH
    // banding candidates vs the exact-Jaccard truth relation.
    "q_lsh_audit" -> withTables { s =>
      Dedup.lshStageAudit(s.table("documents"))
    },
    "q_dedup_minhash_lsh" -> withTables { s =>
      Dedup.minHashNearDupPairs(s.table("documents"), n = 3, k = 16,
        bands = 4, threshold = 0.8).orderBy("id_a", "id_b")
    },
    // cross-corpus near-dups: the deterministic train split deduped
    // against the test split (band keys meet across corpora only).
    "q_cross_dedup" -> withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Dedup.crossCorpusNearDups(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"))
        .orderBy("id_a", "id_b")
    },
    // §7.5 — duplicated n-gram SPAN stats (substring-dedup signal:
    // repeated spans across docs, counted per occurrence; inverted
    // index only, nothing quadratic).
    "q_dup_spans" -> withTables { s =>
      Dedup.duplicateSpanStats(s.table("documents"),
        n = dupSpanN, minDocs = dupSpanMinDocs).orderBy("doc_id")
    },
    // §7.5 — substring-dedup REWRITE: positions under cross-doc-hot
    // n-gram windows removed, document kept (Lee et al. 2022 span
    // removal; the surgical companion of q_dup_spans' stats).
    "q_strip_spans" -> withTables { s =>
      Dedup.stripDuplicateSpans(s.table("documents"),
        n = dupSpanN, minDocs = dupSpanMinDocs).orderBy("doc_id")
    },
    // Near-dup clustering + survivorship: connected components over
    // the MinHash pair graph, canonical survivor = min doc id.
    "q_dedup_clusters" -> withTables { s =>
      Dedup.nearDupClusters(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — QUALITY-argmax survivorship: the retention policy a
    // production dedup ships (keep each near-dup cluster's cleanest
    // member, not its lowest id) — one join + per-cluster rank on top
    // of the same component machinery.
    "q_dedup_keep_best" -> withTablesSf { (s, sfDir) =>
      val docs = s.table("documents")
      Dedup.keepBestPerCluster(
        nearDupClustersShared(s, sfDir),
        TextStats.withDocStats(docs))
        .orderBy("doc_id")
    },
    // §7.5 — CONTAINMENT near-dup pairs: quote/excerpt detection via
    // Broder containment (n_common / min set size) — symmetric
    // Jaccard systematically misses a short doc embedded in a long
    // one because the union is dominated by the long side.
    "q_dedup_containment" -> withTables { s =>
      Dedup.containmentPairs(s.table("documents"), n = 3,
        threshold = containmentThreshold,
        maxDocFreq = Dedup.NgramStopShingleCap)
        .orderBy("id_a", "id_b")
    },
    // §7.5 — PERSISTED near-dup index probe: corpus band keys +
    // shingle sets written once at ingest (doc_id % 10 != 0); the new
    // batch (doc_id % 10 == 0) probes for verified near-dups without
    // re-signaturing the corpus — the incremental-ingest path.
    "q_neardup_index_probe" -> withTablesSf { (s, sfDir) =>
      Dedup.probeNearDupIndex(s, nearDupIndexDir(s, sfDir),
        s.table("documents").filter(col("doc_id") % 10 === 0))
        .orderBy("corpus_id", "batch_id")
    },
    // §7.5 — per-source dedup savings: docs/tokens dropped by
    // survivorship and the resulting token savings ratio — the number
    // the pipeline owner reads after a dedup run.
    "q_dedup_savings" -> withTablesSf { (s, sfDir) =>
      Dedup.dedupSavingsFrom(nearDupClustersShared(s, sfDir),
        s.table("documents")).orderBy("source")
    },
    // §7.5 — cross-source near-dup matrix: which feeds mirror or
    // scrape each other (pair-level sibling of q_source_overlap).
    "q_neardup_sources" -> withTables { s =>
      Dedup.nearDupSourceMatrix(s.table("documents"))
        .orderBy("source_a", "source_b")
    },
    // §7.5 — graph centrality: PageRank over the same MinHash pair
    // graph (the within-cluster canonical-version signal; also the
    // domain-graph crawl-prioritization shape). Exact scale-9
    // integer-unit recurrence — bit-identical cross-engine, no double
    // accumulation anywhere in the loop.
    "q_pagerank" -> withTables { s =>
      Graph.pageRank(
        Dedup.minHashNearDupPairs(s.table("documents"))
          .select("id_a", "id_b"),
        iters = pageRankIters).orderBy("node")
    },
    "q_dedup_simhash" -> withTables { s =>
      Dedup.simHashNearDupPairs(s.table("documents"), maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    // §7.5 extensions — similarity search over `embeddings`.
    // Banded hyperplane LSH (8 bands × 2 planes): candidates meet on
    // an equi-join over band keys — no all-pairs join in the plan
    // (PlanHygieneSpec asserts no BroadcastNestedLoopJoin).
    "q_embedding_neardup" -> withTables { s =>
      Similarity.thresholdPairs(s.table("embeddings"), threshold = 0.4,
        bands = 8, planesPerBand = 2, dims = 64)
        .orderBy("id_a", "id_b")
    },
    // §7.5 — feed-redundancy audit: pairwise n-gram Jaccard between
    // sources (mirror/scrape detection before doc-level dedup).
    "q_source_overlap" -> withTables { s =>
      graft.ext.CorpusOverlap.sourceOverlap(s.table("documents"))
    },
    // §7.5 — cross-lingual bitext mining: near-dup pairs in embedding
    // space whose documents carry different language labels — the
    // LASER/CCMatrix translation-candidate surface.
    "q_bitext_mine" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.crossLingualPairs(emb, s.table("documents"),
        threshold = 0.4, nlist = adaptiveNlist(emb),
        nprobe = semDedupNprobe)
        .orderBy("id_a", "id_b")
    },
    // SemDeDup-style cell-pruned pairs: the LOW-threshold companion
    // (cluster-then-compare; per-cell work bounded by nlist ∝ corpus).
    "q_semdedup" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.cellPairs(emb, threshold = 0.4,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .orderBy("id_a", "id_b")
    },
    // Embedding-space near-dup clustering: the banded-LSH pair graph
    // fed through the same connected-components + survivorship
    // roll-up as the document families (maxIter=50: semantic-space
    // chains can be longer than text near-dup chains).
    "q_embedding_clusters" -> withTables { s =>
      val emb = s.table("embeddings")
      // cellPairs (adaptive nlist), not banded LSH: 0.4 is the
      // low-threshold regime — see crossLingualPairs' scale note.
      val pairs = Similarity.cellPairs(emb, threshold = 0.4,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .select("id_a", "id_b")
      Dedup.clustersFromPairs(emb, pairs, idCol = "vec_id", maxIter = 50)
        .orderBy("vec_id")
    },
    "q_knn_bruteforce" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.topK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .orderBy("query_id", "rank")
    },
    // §7.5 — FILTERED vector search (metadata-constrained ANN): the
    // corpus is PRE-filtered by the document predicate before scoring,
    // so every query returns k qualifying neighbors — the semantics a
    // post-filter on an unconstrained top-k cannot guarantee (it
    // returns ≤ k after discarding). The predicate join is id-keyed
    // and pushes into the scan side of the broadcast score join.
    "q_knn_filtered" -> withTables { s =>
      val emb = s.table("embeddings")
      val allowed = s.table("documents")
        .filter(col("lang") === dsirTargetLang)
        .select(col("doc_id").as("vec_id"))
      Similarity.topK(emb.join(allowed, "vec_id"),
        emb.filter(col("vec_id") < 5), k = 10)
        .orderBy("query_id", "rank")
    },
    // §7.5 — Johnson–Lindenstrauss random projection: 64-d embeddings
    // compacted to 8-d sketches with an md5-derived constant matrix;
    // map-only, no shuffle, bit-identical matrix in both engines.
    "q_random_projection" -> withTables { s =>
      Similarity.randomProjection(s.table("embeddings"), outDims = 8)
        .orderBy("vec_id")
    },
    "q_knn_lsh" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        planes = 4, dims = 64).orderBy("query_id", "rank")
    },
    "q_knn_ivf" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nlist = 16, nprobe = 4).orderBy("query_id", "rank")
    },
    // §7.5 — the ANN tuning curve: recall@k of the IVF probe against
    // the brute-force truth, per nprobe (monotone; 1.0 at nprobe =
    // nlist by construction) — what a user reads to set the
    // recall/cost dial.
    "q_ann_recall" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.annRecall(emb, emb.filter(col("vec_id") < 5), k = 10,
        nlist = 16, nprobes = annRecallNprobes)
    },
    // Matryoshka curve: recall of prefix-dimension search vs the
    // full-width truth — how many dims can be dropped before recall
    // pays (the nested-embedding serving dial; 1.0 at full width by
    // construction).
    "q_matryoshka_recall" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.matryoshkaRecall(emb, emb.filter(col("vec_id") < 5),
        k = 10, prefixDims = matryoshkaDims)
    },
    // The compressed sibling: ADC scoring's extra recall loss on top
    // of cell pruning — PQ recall ≤ IVF recall at every nprobe.
    "q_ann_recall_pq" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.annRecallPq(emb, emb.filter(col("vec_id") < 5), k = 10,
        nlist = 16, nprobes = annRecallNprobes,
        m = pqM, ksub = pqKsub, dims = pqDims)
    },
    // §7.5 — the PERSISTED index twin of q_knn_ivf: build the
    // cell-partitioned parquet index once, probe with partition
    // pruning (only nprobe/nlist directories are scanned). Identical
    // results to q_knn_ivf by construction → same oracle.
    "q_knn_ivf_indexed" -> withTablesSf { (s, sfDir) =>
      val emb = s.table("embeddings")
      Similarity.ivfTopKIndexed(ivfIndexDir(s, sfDir),
        emb.filter(col("vec_id") < 5),
        k = 10, nprobe = 4).orderBy("query_id", "rank")
    },
    // IVF with one deterministic Lloyd refinement of the sampled
    // seeds (decimal-exact per-dim means — partitioning-independent).
    "q_knn_ivf_refined" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nlist = 16, nprobe = 4, refine = 1).orderBy("query_id", "rank")
    },
    // §7.5 — product quantization: each 64-float vector compressed to
    // m=4 codebook indices (squared-L2 assignment against the
    // md5-sampled deterministic codebook); the long code relation is
    // the compressed-ANN storage shape.
    "q_pq_codes" -> withTables { s =>
      Similarity.pqEncode(s.table("embeddings"), m = pqM, ksub = pqKsub,
        dims = pqDims).orderBy("vec_id", "sub")
    },
    // ADC search over the PQ codes: per-query lookup tables, exact
    // decimal m-term sums, ranked from codes alone (the vectors are
    // never scanned at query time).
    "q_knn_pq" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        m = pqM, ksub = pqKsub, dims = pqDims).orderBy("query_id", "rank")
    },
    // The FAISS-style composition: IVF cells prune which vectors a
    // query meets, PQ codes score each meeting (normalized space, so
    // ADC L2 ranks by cosine).
    "q_knn_ivfpq" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nlist = 16, nprobe = 4, m = pqM, ksub = pqKsub, dims = pqDims)
        .orderBy("query_id", "rank")
    },
    // RESIDUAL encoding — FAISS's default: PQ quantizes v − c(v)
    // per cell, spending the codebook on fine detail; ADC tables are
    // keyed per (query, probed cell).
    "q_knn_ivfpq_residual" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 5),
        k = 10, nlist = 16, nprobe = 4, m = pqM, ksub = pqKsub,
        dims = pqDims).orderBy("query_id", "rank")
    },
    // ADC-candidates → exact-cosine rerank: the compressed index
    // recalls candidateK cheaply, the raw vectors are fetched only
    // for those ids (query-volume-shaped refine).
    "q_knn_ivfpq_refined" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 5),
        k = 10, candidateK = pqRefineCandidateK, nlist = 16, nprobe = 4,
        m = pqM, ksub = pqKsub, dims = pqDims)
        .orderBy("query_id", "rank")
    },
    // The PERSISTED twin of q_knn_ivfpq: probe reads only the probed
    // cells' CODE directories (partition pruning over m-int rows, the
    // raw vectors never touched) — identical rows by construction →
    // same oracle.
    "q_knn_ivfpq_indexed" -> withTablesSf { (s, sfDir) =>
      val emb = s.table("embeddings")
      Similarity.ivfPqTopKIndexed(ivfPqIndexDir(s, sfDir),
        emb.filter(col("vec_id") < 5), k = 10, nprobe = 4,
        m = pqM, dims = pqDims).orderBy("query_id", "rank")
    },
    // §7.5 — embedding dimension health: per-dim count/zeros/min/max/
    // mean/std in one corpus pass — the dead-dimension detector run
    // before any index build.
    "q_embedding_dims" -> withTables { s =>
      Similarity.dimProfile(s.table("embeddings")).orderBy("dim")
    },
    // §7.5 — multi-probe LSH: each query also probes every
    // 1-bit-flipped bucket, repairing recall for vectors near a
    // hyperplane without extra tables (Lv et al., VLDB 2007).
    "q_knn_lsh_multiprobe" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 5),
        k = 10).orderBy("query_id", "rank")
    },
    // §7.5 — SQ8 scalar-quantized search: 1 byte/dim affine codes,
    // asymmetric dequantized candidate scoring, exact top-k rerank —
    // the middle compression point between flat scan and PQ.
    "q_knn_sq8" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        rerank = sq8Rerank).orderBy("query_id", "rank")
    },
    // §7.5 — embedding-space drift monitor: pairwise cosine between
    // per-label centroid vectors (exact decimal per-dim means; the
    // pair join runs over the bounded group table only).
    "q_embedding_drift" -> withTables { s =>
      Similarity.centroidDrift(s.table("embeddings"), "label")
        .orderBy("group_a", "group_b")
    },
    // k-means corpus-topology report (2 Lloyd steps): cluster sizes
    // and cohesion — what cluster-balanced sampling / SemDeDup read.
    "q_embedding_kmeans" -> withTablesSf { (s, sfDir) =>
      Similarity.kmeansProfileFrom(kmeansAssigned(s, sfDir))
    },
    // Cluster-quality companion: per-cluster simplified silhouette
    // (own vs runner-up centroid distance) — computes its own Lloyd
    // pipeline because it needs the top-2 scores the shared
    // assignment deliberately drops (and the bench then measures the
    // whole operator, the profiler-family rule).
    "q_kmeans_silhouette" -> withTables { s =>
      Similarity.kmeansSilhouette(s.table("embeddings"),
        nlist = kmeansNlist, refine = kmeansRefine)
    },
    // Junk-mode detector off the SAME shared assignment (one Lloyd
    // pipeline per suite, many reports): members ≥2σ below their
    // cluster's mean cohesion.
    "q_embedding_outliers" -> withTablesSf { (s, sfDir) =>
      Similarity.clusterOutliersFrom(kmeansAssigned(s, sfDir), outlierZ)
        .orderBy("vec_id")
    },
    // cluster-capped diversity sample: ≤ cap md5-picked members per
    // k-means cluster (cluster-balanced corpus pruning). Shares the
    // checkpointed assignment with q_embedding_kmeans — the centroid
    // pipeline runs once per suite, the way a real pipeline would.
    "q_cluster_sample" -> withTablesSf { (s, sfDir) =>
      Similarity.clusterSampleFrom(kmeansAssigned(s, sfDir),
        cap = clusterSampleCap)
        .orderBy("vec_id")
    },
    // §7.5 extensions — text analysis over `documents`.
    "q_text_stats" -> withTables { s =>
      TextStats.corpusStats(s.table("documents"))
    },
    "q_text_docstats" -> withTables { s =>
      TextStats.withDocStats(s.table("documents"))
        .select("doc_id", "n_tokens", "n_chars_obs", "avg_token_len",
          "est_bpe_tokens", "stopword_ratio", "punct_ratio",
          "alpha_ratio", "quality_score")
        .orderBy("doc_id")
    },
    "q_text_langid" -> withTables { s =>
      TextStats.langId(s, s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — per-doc n-gram novelty (inverted-index df==1 fraction):
    // the freshness axis of curation, complementing boilerplate/span
    // dedup which score what is SHARED.
    "q_ngram_novelty" -> withTables { s =>
      TextStats.ngramNovelty(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — corpus health: Zipf-law fit of the top-V token
    // frequencies per source (slope ≈ −1 for natural text; shallow
    // slopes or collapsed r² flag templated/machine text).
    "q_zipf_fit" -> withTables { s =>
      TextStats.zipfFit(s.table("documents"), topV = zipfTopV)
        .orderBy("source")
    },
    // §7.5 — length-bias audit: per-source Spearman rank correlation
    // between document length and the quality score (a gate trained
    // on a length-confounded score silently filters short docs).
    "q_length_bias" -> withTables { s =>
      // doc-stats materialized once: spearmanByGroup consumes its
      // input from three branches (two rank windows + totals), and
      // each would re-run the scan+tokenize doc-stats build (r15 plan
      // capture: 3 text scans). The cut is doc-count-sized.
      graft.ext.Stats.spearmanByGroup(
        Share.lazily(
          TextStats.withDocStats(s.table("documents"))
            .select("source", "n_chars", "quality_score")),
        "source", "n_chars", "quality_score").orderBy("source")
    },
    // §7.5 — label QA: Cohen's kappa between the NB self-train labels
    // and the profile-token language-ID heuristic (chance-corrected
    // agreement of two independent automatic labelers).
    "q_label_kappa" -> withTables { s =>
      graft.ext.Classify.labelAgreement(s, s.table("documents"))
    },
    // §7.5 — nonparametric source comparison: Mann–Whitney U on
    // document length between two sources (rank-based, so one
    // pathological crawl artifact cannot move the verdict the way it
    // moves a t-test on heavy-tailed length distributions).
    "q_mannwhitney" -> withTables { s =>
      graft.ext.Stats.mannWhitney(s.table("documents"),
        "source", "n_chars", mwGroupA, mwGroupB)
    },
    // §7.5 — the k-group sibling: Kruskal–Wallis across ALL sources
    // at once (one omnibus test instead of k² pairwise comparisons
    // and their multiplicity problem).
    "q_kruskal_wallis" -> withTables { s =>
      graft.ext.Stats.kruskalWallis(s.table("documents"),
        "source", "n_chars")
    },
    // §7.5 — tokenizer training: frequency-weighted adjacent
    // character-pair counts (the BPE merge-candidate relation; the
    // corpus collapses to word frequencies first, so the heavy scan
    // happens once).
    "q_bpe_pairs" -> withTables { s =>
      graft.ext.Bpe.pairCounts(graft.ext.Bpe.wordSymbols(s.table("documents")))
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(bpePairsK)
    },
    // The iterative half: the first N learned merges, each round
    // re-counting after the previous argmax is greedily merged
    // (Sennrich BPE on the vocabulary-sized state relation).
    // Per-language tokenizer fertility: how many BPE pieces each
    // language's words fragment into under the learned merges — the
    // multilingual tokenizer-budget dial.
    "q_bpe_fertility" -> withTables { s =>
      graft.ext.Bpe.fertility(s.table("documents"), bpeRounds)
    },
    "q_bpe_merges" -> withTables { s =>
      graft.ext.Bpe.learnMerges(s.table("documents"), bpeRounds)
        .orderBy("round")
    },
    // The tokenizer half: segment every vocabulary word with the
    // learned merges — (word, pos, token) per subword piece. The
    // corpus-level encode (docs → piece streams) rides the same final
    // state via a broadcast join (Bpe.encode, spec-verified).
    "q_bpe_encode" -> withTables { s =>
      graft.ext.Bpe.segmentVocab(s.table("documents"), bpeRounds)
        .orderBy("word", "pos")
    },
    // §7.5 — content-policy gate: multi-length phrase blocklist
    // matched exactly against the token stream (broadcast phrase
    // relation, never a per-phrase regex scan).
    // (the operator's sorted matched-phrase audit ARRAY stays out of
    // the dumped columns — the hash compare is scalar-typed; the
    // array is spec-verified in PipelineMlSpec)
    "q_blocklist" -> withTables { s =>
      Curation.blocklistReport(s.table("documents"), blocklistPhrases)
        .select("doc_id", "n_matches", "n_phrases", "keep")
        .orderBy("doc_id")
    },
    // §7.5 — the classifier slot: multinomial Naive Bayes trained
    // relationally on the lang labels, self-scored, rolled up to the
    // confusion matrix (exact decimal Σ tf·llh + prior scores).
    "q_nb_confusion" -> withTables { s =>
      graft.ext.Classify.nbConfusion(s.table("documents"))
        .orderBy("actual", "predicted")
    },
    // §7.5 — the honest classifier number: k-fold cross-validated NB
    // accuracy, all K leave-one-fold-out models trained from ONE count
    // pass (fold as a grouping key; training stats by global-minus-
    // fold subtraction).
    "q_nb_cv" -> withTables { s =>
      graft.ext.Classify.nbCrossVal(s.table("documents"), k = kfoldK)
    },
    // §7.5 — the discriminative classifier slot: relational full-batch
    // GD logistic regression over the per-doc quality features (the
    // fastText-filter role), one aggregate pass per iteration,
    // bit-stable decimal gradients (LogReg scaladoc).
    "q_logreg" -> withTables { s =>
      graft.ext.LogReg.train(s.table("documents"),
        col("lang") === dsirTargetLang, iters = logregIters, lr = logregLr)
        .orderBy("iter")
    },
    // ...and the trained model applied back per language slice: how
    // many docs the is-English classifier flags at p ≥ 0.5 per lang.
    "q_logreg_predict" -> withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.predictByGroupFrom(s.table("documents"),
        col("lang") === dsirTargetLang, "lang",
        logregWeightsShared(s, sfDir)).orderBy("lang")
    },
    // ...its PR/F1 curve over the 4-decimal score grid (the
    // operating-point picker; grid-bounded global cumsum)...
    "q_logreg_pr" -> withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.prCurveFrom(s.table("documents"),
        col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir))
    },
    // ...and its reliability (calibration) bins — the ECE ingredients.
    "q_logreg_calibration" -> withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.calibrationBinsFrom(s.table("documents"),
        col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir),
        nBins = calibrationBins)
    },
    // ...and the Murphy decomposition of its Brier score: one row
    // separating miscalibration (fixable) from lack of resolution
    // (not) and the base-rate floor.
    "q_brier" -> withTablesSf { (s, sfDir) =>
      graft.ext.Eval.brierDecomposition(
        graft.ext.LogReg.scoredDocsFrom(s.table("documents"),
          col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir)),
        col("y"), col("p"))
    },
    // §7.5 — release-night mix alarm: JSD of each day's event-type
    // distribution vs the period mix, threshold-flagged (the jsDrift
    // ladder on the bounded day×type grid).
    "q_type_mix_drift" -> withTables { s =>
      graft.ext.Stats.categoricalJsDrift(s.table("events"),
        to_date(col("ts")), col("event_type"), typeMixThreshold)
    },
    // ...the per-slice separation check for the trained model itself
    // (one easy source can carry an aggregate AUC).
    "q_logreg_auc" -> withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.aucFrom(s.table("documents"),
        col("lang") === dsirTargetLang, "source",
        logregWeightsShared(s, sfDir)).orderBy("source")
    },
    // ...the operating-point DECISION: the most permissive threshold
    // admitting ≤ α junk, per target FPR (grid-bounded cumulatives).
    "q_gate_threshold" -> withTables { s =>
      graft.ext.Eval.gateThresholds(
        TextStats.withDocStats(s.table("documents")),
        col("lang") === dsirTargetLang, col("quality_score"),
        alphas = gateAlphas)
    },
    // ...and the distributional alarm: per-source two-sample KS of
    // the quality score against the rest of the corpus (shape drift
    // the mean can't see; grid-bounded CDFs).
    "q_ks_drift" -> withTables { s =>
      graft.ext.Eval.ksDriftByGroup(
        TextStats.withDocStats(s.table("documents")),
        "source", col("quality_score"))
    },
    // §7.5 — classifier/score evaluation: exact tie-corrected ROC AUC
    // of the quality score against the is-English label, per source
    // (does the gate's score actually separate what it claims?).
    "q_auc" -> withTables { s =>
      graft.ext.Eval.aucByGroup(
        TextStats.withDocStats(s.table("documents")),
        "source", col("lang") === dsirTargetLang, col("quality_score"))
        .orderBy("source")
    },
    "q_text_fingerprint" -> withTables { s =>
      TextStats.fingerprints(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — CCNet-style boilerplate/template detection: bigram
    // shingles appearing in ≥20% of a source's documents, reported as
    // a per-doc contamination fraction (inverted-index plan — the
    // n-gram dedup family's shape, nothing pairwise).
    "q_boilerplate" -> withTables { s =>
      TextStats.boilerplateReport(s.table("documents"),
        n = boilerplateN, minDocPct = boilerplateMinDocPct)
        .orderBy("doc_id")
    },
    // §7.5 extensions — deterministic sampling (membership is a pure
    // function of (salt, id): reproducible under any partitioning).
    // Deterministic A/B bucketing + the sample-ratio-mismatch health
    // check (md5-salted weighted allocation over distinct users).
    "q_ab_srm" -> withTables { s =>
      Sampling.abSrmReport(s.table("events"), "user_id", abVariants, abSalt)
    },
    // Variance-optimal eval-budget allocation across strata (Neyman):
    // how many labeled rows each event_type deserves from a fixed
    // budget, n_h ∝ N_h·σ_h.
    "q_neyman_alloc" -> withTables { s =>
      Sampling.neymanAllocation(s.table("events"), "event_type",
        "value", budget = neymanBudget)
    },
    "q_sample_stratified" -> withTables { s =>
      Sampling.stratifiedSample(s.table("documents"), "lang",
        stratifiedRates, stratifiedDefaultRate)
        .select("doc_id", "lang").orderBy("doc_id")
    },
    "q_sample_split" -> withTables { s =>
      Sampling.trainTestSplit(s.table("documents"), testFraction)
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    },
    // §7.5 — deterministic k-fold CV assignment (integer md5 mod k;
    // map-only, engine- and partitioning-independent folds).
    "q_kfold" -> withTables { s =>
      Sampling.kfold(s.table("documents"), kfoldK).orderBy("doc_id")
    },
    // §7.5 — exact-budget deterministic sample (reservoir stand-in:
    // smallest-md5 pick set; TakeOrderedAndProject, no full sort).
    "q_sample_fixed" -> withTables { s =>
      Sampling.fixedSizeSample(s.table("documents"), fixedSampleN)
        .orderBy("doc_id")
    },
    // §7.5 — GROUP-aware split: membership keyed on `source`, not the
    // row, so near-identical documents clustered within one source can
    // never straddle train/test (the leakage mode a row-level split
    // cannot prevent). Same operator, group id as the hash key.
    "q_split_by_source" -> withTables { s =>
      Sampling.trainTestSplit(s.table("documents"), testFraction,
          idCol = "source", salt = "gsplit")
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
    // §7.5 — near-dup-leakage-free split: membership per near-dup
    // CLUSTER, so a paraphrased copy of a test doc can never sit in
    // train (the eval-hygiene guard provenance splits miss).
    "q_split_by_cluster" -> withTables { s =>
      Sampling.splitByCluster(s.table("documents"), testFraction,
        salt = "csplit").orderBy("doc_id")
    },
    // §7.5 — token-mixture rebalancing: per-stratum keep rates are
    // computed from the corpus' own token totals (K = min t_s/w_s),
    // then applied with the deterministic md5 membership.
    "q_mixture_rebalance" -> withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.rebalanceToMixture(d, "lang", mixtureWeights)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"))
        .orderBy("lang")
    },
    // §7.5 — data-constrained epoch planner: budget·weight targets
    // vs corpus size, repeat-capped (the repeats dimension the
    // rebalancers lack — re-weight or find more data when deficit>0).
    "q_epoch_plan" -> withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.epochPlan(d, "lang", mixtureWeights,
        budgetTokens = epochBudgetTokens, maxRepeats = epochMaxRepeats)
        .orderBy("lang")
    },
    // §7.5 — max–min fair (water-filling) token allocation: cap
    // dominant sources at the water level, split the leftover as
    // evenly as integers allow — the no-weights-to-tune mixture dial;
    // allocations sum to exactly min(budget, corpus).
    "q_waterfill" -> withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.waterFillAllocation(d, "source", waterfillBudget)
    },
    // §7.5 — temperature-flattened mixture (α = 1/2): keep rates
    // sqrt-proportional to stratum size so the largest stratum stops
    // dominating; exact cross-engine because sqrt is the one power
    // IEEE requires correctly rounded.
    "q_mixture_temperature" -> withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.temperatureMixture(d, "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"))
        .orderBy("lang")
    },
    // §7.5 — exact corpus heavy hitters (TakeOrderedAndProject: no
    // full vocabulary sort).
    "q_top_tokens" -> withTables { s =>
      TextStats.topTokens(s.table("documents"), topTokensK)
    },
    // §7.5 — held-out decontamination: train docs (deterministic md5
    // split) that share any 3-gram shingle with the test split. One
    // shingle equi-join; nothing quadratic.
    "q_decontam" -> withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Decontamination.contaminationReport(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"))
        .orderBy("doc_id")
    },
    // §7.5 — GRADED decontamination: per-train-doc shingle-overlap
    // fraction with the held-out set + threshold flag (the PaLM-style
    // rule; the binary any-hit report over-drops long docs).
    "q_decontam_frac" -> withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Decontamination.contaminationFraction(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"),
        threshold = decontamFracThreshold)
        .orderBy("doc_id")
    },
    // §7.5 — Gopher-style repetition/diversity quality signals.
    "q_text_repetition" -> withTables { s =>
      TextStats.repetitionStats(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — CCNet-style perplexity-proxy scoring: mean −ln p(token)
    // under the corpus's own unigram LM (vocab broadcast, one token
    // shuffle for counts, one partially-aggregated doc roll-up).
    "q_text_lm_score" -> withTables { s =>
      TextStats.lmCrossEntropy(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — within-doc token-distribution entropy (repetitive-junk
    // signal: long-but-templated docs score near 0).
    "q_text_entropy" -> withTables { s =>
      TextStats.tokenEntropy(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — top-k collocations by bigram PMI (vocabulary-sized
    // shuffles + TakeOrderedAndProject; the corpus is never joined).
    "q_pmi_bigrams" -> withTables { s =>
      TextStats.pmiBigrams(s.table("documents"),
        minCount = pmiMinCount, k = pmiK)
    },
    // §7.5 — per-doc TF-IDF keyword extraction (exact-decimal tf·idf₉
    // ranking, WindowGroupLimit top-k; the extraction twin of bm25).
    "q_tfidf_keywords" -> withTables { s =>
      TextStats.tfidfKeywords(s.table("documents"), tfidfK)
        .orderBy("doc_id", "rank")
    },
    // §7.5 — RAKE phrase keywords: stopword-free runs scored by
    // member degree/frequency — the multi-word keyword signal unigram
    // tf-idf cannot see; exact scale-9 integer scores (pageRank
    // rank_u convention).
    "q_rake_keywords" -> withTables { s =>
      TextStats.rakeKeywords(s.table("documents"), rakeK, rakeMaxPhraseLen)
    },
    // §7.5 — the dataset card: one long-format corpus summary
    // (counts, token totals, exact-dup volume, exact HALF-UP average)
    // assembled from broadcast-class scalar aggregates — the exact
    // distincts run as two-stage group-bys, never an Expand — and
    // unpivoted wide→long.
    "q_corpus_report" -> withTables { s =>
      val d = s.table("documents")
      val per = d.select(
        size(TextStats.tokens(col("text"))).cast("long").as("nt"),
        col("source"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
      val base = per.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("nt")).cast("double").as("total_tokens"),
        sum(col("n_chars")).cast("double").as("total_chars"),
        TextStats.decAvg5(col("nt"), count(lit(1))).as("avg_tokens"),
        count(lit(1)).as("__n"))
      val nSources = per.groupBy("source").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).cast("double").as("n_sources"))
      val nLangs = per.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).cast("double").as("n_langs"))
      val nContents = per.groupBy("h").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("__nc"))
      base.crossJoin(broadcast(nSources)).crossJoin(broadcast(nLangs))
        .crossJoin(broadcast(nContents))
        .withColumn("dup_docs", (col("__n") - col("__nc")).cast("double"))
        .select("n_docs", "total_tokens", "total_chars", "avg_tokens",
          "n_sources", "n_langs", "dup_docs")
        .unpivot(Array.empty[org.apache.spark.sql.Column], "metric", "value")
        .orderBy("metric")
    },
    // §7.5 — chunk-level language mix: per-chunk langid rolled up to
    // a per-doc majority + is_mixed flag (the code-switching signal
    // a whole-doc argmax hides).
    "q_langid_chunks" -> withTables { s =>
      TextStats.langIdChunks(s, s.table("documents"), langidChunkTokens)
        .orderBy("doc_id")
    },
    // §7.5 — stopword discovery: top-k tokens by DOCUMENT frequency
    // (df axis; q_top_tokens is the occurrence axis).
    "q_stop_candidates" -> withTables { s =>
      TextStats.topDocFreqTokens(s.table("documents"), topTokensK)
    },
    // §7.5 — compression-ratio quality signal (no portable zlib in
    // the oracle engine → rows-only check; ExtSpec owns semantics).
    "q_compression" -> withTables { s =>
      TextStats.withCompressionRatio(s.table("documents"))
        .select("doc_id", "byte_len", "deflate_len", "compression_ratio")
        .orderBy("doc_id")
    },
    // §8.3 — oracle-checkable gate for the zlib path above: exact
    // corpus facts + codec invariants (inflate∘deflate identity,
    // worst-case length bound) hashed against literal expectations.
    "q_compression_check" -> withTables { s =>
      TextStats.compressionSelfCheck(s.table("documents"))
    },
    // §7.5 — per-source vocabulary growth (Heaps-law dashboard:
    // templated sources stop minting new words).
    "q_vocab_growth" -> withTables { s =>
      TextStats.vocabGrowth(s.table("documents")).orderBy("source")
    },
    // §7.5 — bigram-LM cross-entropy (order-aware companion of the
    // unigram q_text_lm_score).
    "q_text_lm2_score" -> withTables { s =>
      TextStats.lm2CrossEntropy(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — best-k-per-group selection (WindowGroupLimit: skewed
    // groups never materialize more than k+ rows per task).
    "q_top_quality_per_lang" -> withTables { s =>
      Sampling.topKPerGroup(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", topQualityK)
        .orderBy("lang", "doc_id")
    },
    // §7.5 — per-language score calibration (explicit percent_rank):
    // makes quality scores comparable ACROSS groups before any
    // cross-source selection threshold is applied.
    "q_score_calibrate" -> withTables { s =>
      graft.ext.Curation.calibrateScores(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", "doc_id")
        .orderBy("doc_id")
    },
    // §7.5 — pooled quantile normalization (the microarray classic):
    // each doc's score becomes the pooled value at its within-source
    // midrank percentile, so one global threshold means the same
    // thing for every source — the batch-effect fix calibrateScores'
    // per-group [0,1] rank cannot give.
    "q_quantile_normalize" -> withTables { s =>
      graft.ext.Curation.quantileNormalize(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id")
        .orderBy("doc_id")
    },
    // §7.5 — PII redaction audit. The corpus text is synthetic word
    // salad, so a deterministic contact string derived from doc_id is
    // appended first — the redaction path then has real matches to
    // scrub on every row. Map-only chained regexp_replace.
    "q_redact" -> withTables { s =>
      val crafted = s.table("documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 55512"), col("doc_id").cast("string"),
          lit("00")).as("text"))
      TextStats.withRedaction(crafted)
        .select(col("doc_id"), col("n_emails"), col("n_longnums"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    // §7.5 — quality-weighted sampling: acceptance probability = the
    // row's own quality score (soft curation, no cliff). Map-only.
    "q_sample_weighted" -> withTables { s =>
      Sampling.weightedSample(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "quality_score")
        .orderBy("doc_id")
    },
    // §7.5 — relative-quantile curation gate: keep the top 20% of
    // each language by quality score (group-size-proportional, unlike
    // topKPerGroup's fixed k); integer cutoff math, one lang shuffle.
    "q_quantile_gate" -> withTables { s =>
      Curation.quantileGate(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", "doc_id", quantileKeepNum, quantileKeepDen)
        .orderBy("doc_id")
    },
    // §7.5 — out-of-vocabulary rate vs the corpus' own top-V tokens
    // (broadcast vocab; the corpus is never shuffled by token).
    "q_vocab_coverage" -> withTables { s =>
      TextStats.vocabCoverage(s.table("documents"), vocabSize)
        .orderBy("doc_id")
    },
    // §7.5 — record-linkage blocking: sorted-neighborhood candidate
    // pairs over part names (short keys give MinHash nothing to
    // sketch; sort-adjacency inside prefix blocks is the classic
    // complement). Linear candidate count by construction.
    "q_blocking_pairs" -> withTables { s =>
      graft.ext.Dedup.sortedNeighborhoodPairs(s.table("part"),
        "p_partkey", "p_name", snmWindow, snmBlockLen)
    },
    // §7.5 — small-file compaction planner: prefix-sum bin assignment
    // of the (source, lang) file manifest into ~target-byte outputs,
    // key-ordered so source locality (and its partition pruning)
    // survives the rewrite. The plan is the reviewable cheap step;
    // Compaction.compact is the rewrite.
    "q_compaction_plan" -> withTables { s =>
      val manifest = s.table("documents").groupBy("source", "lang")
        .agg(sum(col("n_chars")).as("file_bytes"))
      graft.ext.Compaction.plan(manifest,
        "source", "lang", "file_bytes", compactionTargetBytes)
    },
    // §7.5 — deterministic corpus shuffle + sharding (map-only
    // assignment; the only exchange is the per-shard rank window).
    "q_shard" -> withTables { s =>
      Sharding.shardCorpus(s.table("documents"), shardCount)
        .select("doc_id", "shard_id", "shard_pos").orderBy("doc_id")
    },
    // §7.5 — shuffle-quality certification: Wald–Wolfowitz runs of the
    // source sequence in each shard's shuffle order; ratio ≈ 1 means
    // the md5 shuffle interleaves sources, ≪ 1 means source batches
    // survived — invisible to any per-shard count check.
    "q_shuffle_runs" -> withTables { s =>
      Sharding.shuffleRunsAudit(s.table("documents"), shardCount)
    },
    // §7.5 — Kneser-Ney bigram cross-entropy: continuation-count
    // smoothing (the Chen–Goodman benchmark) as a quality-gate axis;
    // the two-term interpolation folded to ONE exact integer rational.
    "q_text_kn_score" -> withTables { s =>
      TextStats.knCrossEntropy(s.table("documents"))
    },
    // §7.5 — content-drift scorecard: Jensen-Shannon divergence of
    // each source's token distribution from the pool (bounded,
    // symmetric; the vocabulary-usage axis q_psi_drift's length bins
    // cannot see).
    "q_js_drift" -> withTables { s =>
      TextStats.jsDrift(s.table("documents"))
    },
    // §7.5 — tokenizer budget planning: what corpus token mass each
    // candidate vocabulary size covers (the "32k covers 99.2%" curve).
    "q_vocab_mass_curve" -> withTables { s =>
      TextStats.vocabMassCurve(s.table("documents"), vocabCuts)
    },
    // §7.5 — burstiness audit: high cf/df tokens — many occurrences
    // in few documents (boilerplate, spam, generator tics) that a raw
    // frequency list hides among uniform words.
    "q_token_burstiness" -> withTables { s =>
      TextStats.tokenBurstiness(s.table("documents"), burstMinCf, burstK)
    },
    // §7.5 — cross-document mode-collapse detector: per-source
    // distinct/total trigram ratio (template saturation moves this
    // long before any per-doc repetition score).
    "q_source_ngram_diversity" -> withTables { s =>
      TextStats.sourceNgramDiversity(s.table("documents"))
    },
    // §7.5 — bucketed-storage co-located join: both fact tables are
    // persisted hash-clustered+sorted on the join key, so the
    // recurring fact-to-fact join runs with ZERO exchanges and ZERO
    // sorts (the write paid the shuffle once — the 100 TB shape for
    // repeatedly-joined published corpora). PlanHygieneSpec asserts
    // the exchange-free plan; the oracle only sees the join result.
    "q_bucketed_join" -> withTables { s =>
      val dir = graft.EngineScratch.dir(s, "graft-bucketed")
      Bucketing.writeBucketed(s.table("documents"), "documents_bkt",
        s"$dir/documents", 8, "doc_id")
      Bucketing.writeBucketed(s.table("embeddings"), "embeddings_bkt",
        s"$dir/embeddings", 8, "vec_id")
      Bucketing.coLocatedJoin(s, "documents_bkt", "embeddings_bkt",
        "doc_id", "vec_id")
        .groupBy(col("lang"), col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy("lang", "label")
    },
    // §7.5 — BM25 keyword relevance search (query-term-filtered token
    // stream; idf/constants broadcast; TakeOrderedAndProject top-k).
    "q_bm25" -> withTables { s =>
      graft.ext.Search.bm25(s.table("documents"), bm25Terms, bm25K,
        bm25K1, bm25B)
    },
    // §7.5 — the PERSISTED inverted-index twin of q_bm25: postings
    // and dfs in crc32-term-bucket partitions; the probe reads only
    // the query terms' buckets (partition pruning), shares the exact
    // scoring tree with bm25 → same oracle.
    "q_bm25_indexed" -> withTablesSf { (s, sfDir) =>
      graft.ext.Search.bm25Indexed(s, searchIndexDir(s, sfDir),
        bm25Terms, bm25K, bm25K1, bm25B)
    },
    // §7.5 — two-stage hybrid retrieval: BM25 candidate recall over
    // the corpus, embedding-cosine rerank over the ≤candidateK
    // survivors (broadcast semi-join prune into the embedding scan).
    "q_hybrid_search" -> withTables { s =>
      graft.ext.Search.hybridRerank(s.table("documents"),
        s.table("embeddings"), bm25Terms, hybridQueryVecId,
        hybridCandidateK, hybridK, bm25K1, bm25B)
    },
    // §7.5 — mergeable HLL sketch rollup (approximate by construction
    // → no oracle, rows-only check like q_profile_approx; ExtSpec
    // pins the estimates against exact distinct counts).
    "q_sketch_rollup" -> withTables { s =>
      graft.ext.Sketches.rollupDistinctUsers(
        graft.ext.Sketches.dailyUserSketches(s.table("events")))
        .orderBy("event_type")
    },
    // §8.3 — oracle-checkable gate for the HLL rollup above: exact
    // per-type facts + the envelope/mergeability invariants hashed
    // against literal trues.
    "q_sketch_rollup_check" -> withTables { s =>
      graft.ext.Sketches.rollupSelfCheck(s.table("events"))
    },
    // §7.5 — deterministic KMV distinct rollup: md5 bottom-k per day,
    // merged by re-ranking the union — the oracle-checkable
    // counterpart to the HLL rollup above (identical sketch on any
    // engine; estimate exact below k).
    "q_kmv_rollup" -> withTables { s =>
      graft.ext.Sketches.rollupDistinctKmv(
        graft.ext.Sketches.dailyKmvSketches(s.table("events"), kmvK), kmvK)
        .orderBy("event_type")
    },
    // §7.5 — sketch SET OPERATION: distinct-user overlap between the
    // month's two halves per type from KMV sketches alone (retention
    // without rescanning either half; exact below k).
    "q_kmv_intersect" -> withTables { s =>
      graft.ext.Sketches.kmvPeriodOverlap(s.table("events"), kmvK,
        kmvSplitDate)
    },
    // §7.5 — incremental "seen before" dedup: a deterministic
    // md5-derived Bloom filter built over the train split, probed by
    // the test split (no false negatives; fpr documented in Sketches).
    "q_bloom_dedup" -> withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      val bloom = graft.ext.Sketches.bloomBuild(
        split.filter(col("split") === "train"), bloomBitsM, bloomK)
      graft.ext.Sketches.bloomProbe(
        split.filter(col("split") === "test"), bloom, bloomBitsM, bloomK)
        .orderBy("doc_id")
    },
    // §7.5 — mergeable count-min frequency sketch: per-day counter
    // relations merged by addition, point-queried for small user ids
    // (deterministic md5 buckets — the oracle rebuilds the identical
    // sketch).
    "q_cms_rollup" -> withTables { s =>
      val ev = s.table("events")
      graft.ext.Sketches.cmsEstimate(
        graft.ext.Sketches.cmsDailyCounts(ev, cmsDepth, cmsWidth),
        ev.select("user_id").where(col("user_id") < cmsProbeMax).distinct(),
        cmsDepth, cmsWidth)
        .orderBy("user_id")
    },
    // §7.5 — EXACT mergeable quantile rollup: per-day value-count
    // relations (counts merge by addition — zero sketch error) rolled
    // up to weekly quantiles with no raw-event rescan.
    "q_quantile_rollup" -> withTables { s =>
      graft.ext.Sketches.rollupQuantiles(
        graft.ext.Sketches.dailyValueCounts(s.table("events")), quantilePs,
        daysPerBucket = rollupDaysPerBucket)
        .orderBy("event_type", "bucket_num")
    },
    // §7.5 — full-pipeline curation verdict: near-dup survivorship +
    // length + quality + repetition + OOV gates, first match wins.
    "q_curate_full" -> withTablesSf { (s, sfDir) =>
      curateFullVerdicts(s, sfDir).orderBy("doc_id")
    },
    // §7.5 — the pipeline dashboard: gate-by-gate survivor funnel
    // over the same verdicts (first-failing-gate reasons walk the
    // funnel exactly). Reads the checkpointed verdict relation shared
    // with q_curate_full instead of re-running every gate.
    "q_curation_funnel" -> withTablesSf { (s, sfDir) =>
      Curation.funnelReportFrom(curateFullVerdicts(s, sfDir))
    },
    // §7.5 — per-source verdict breakdown off the same shared verdict
    // relation: which feeds the gates are rejecting, and why.
    "q_curation_by_source" -> withTablesSf { (s, sfDir) =>
      Curation.verdictBreakdown(curateFullVerdicts(s, sfDir),
        s.table("documents"), "source")
    },
    // §7.5 — CCNet perplexity buckets: head/middle/tail by the
    // document's own language's LM-score terciles (keep head, sample
    // middle, audit tail — the Wenzek et al. split).
    "q_ppl_buckets" -> withTables { s =>
      Curation.perplexityBuckets(s.table("documents")).orderBy("doc_id")
    },
    // §7.5 — DSIR importance weights: per-doc mean log-likelihood
    // ratio of a Laplace-smoothed target (English slice) vs raw-pool
    // unigram LM — the audit report behind importance resampling.
    "q_importance_weights" -> withTablesSf { (s, sfDir) =>
      importanceWeightsShared(s, sfDir).orderBy("doc_id")
    },
    // §7.5 — the selection itself: deterministic Gumbel top-k over
    // the shared weight relation (sampling without replacement,
    // inclusion probability increasing in the weight).
    "q_dsir_sample" -> withTablesSf { (s, sfDir) =>
      graft.ext.Importance.dsirResampleFrom(
        importanceWeightsShared(s, sfDir), k = dsirK, salt = dsirSalt)
        .orderBy("rank")
    },
    // §7.5 — deterministic training-order shuffle: md5 total order
    // materialized as (shard, shard_pos, global_pos) via the
    // two-phase offset decomposition; the oracle cross-checks with a
    // naive global window.
    "q_shuffle_order" -> withTables { s =>
      Sampling.shuffleOrder(s.table("documents"), shards = shuffleShards,
        salt = shuffleSalt).orderBy("global_pos")
    },
    // §7.5 — telemetry-health report: per-type inter-arrival gap
    // quantiles over each user's event stream (drumbeat/stall signal).
    "q_inter_arrival" -> withTables { s =>
      Events.interArrivalStats(s.table("events")).orderBy("event_type")
    },
    // §7.5 — recency-weighted user feature: exponentially decayed
    // value sum at a fixed snapshot instant (reproducible feature
    // store read; one decimal-exact key aggregate).
    "q_decayed_sum" -> withTables { s =>
      Events.decayedSum(s.table("events"), refUs = decayRefUs,
        halfLifeDays = decayHalfLifeDays)
    },
    // §7.5 — context-length chunking: overlapping token windows per
    // doc (map-only explode; trailing runt chunks kept).
    "q_chunk" -> withTables { s =>
      Packing.chunkDocuments(s.table("documents"), chunkMaxTokens, chunkOverlap)
        .orderBy("doc_id", "chunk_index")
    },
    // §7.5 — sequence packing: two-phase distributed prefix sum (no
    // single-task global window), bit-identical to the oracle's
    // single-window form because all math is integer.
    "q_pack_sequences" -> withTables { s =>
      val toks = s.table("documents").select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      Packing.packSequences(toks, budget = packBudget, shards = 32)
        .orderBy("doc_id")
    },
    // ...and its fill dashboard: docs/tokens started per pack +
    // boundary straddlers (one pack-keyed roll-up on the map-only
    // packer output).
    "q_pack_efficiency" -> withTables { s =>
      val toks = s.table("documents").select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      Packing.packEfficiency(
        Packing.packSequences(toks, budget = packBudget, shards = 32),
        budget = packBudget)
    },
    // §7.5 — χ² token feature selection: each language's most
    // label-dependent tokens (the featurization relation a quality /
    // domain classifier reads).
    "q_token_chisq" -> withTables { s =>
      TextStats.discriminativeTokens(s.table("documents"), k = tokenChisqK)
    },
    // §7.5 — the end-to-end keep/drop curation verdict (near-dup
    // survivorship > length gate > quality gate, with audit reasons).
    "q_curate" -> withTables { s =>
      Curation.curate(s.table("documents"),
        Curation.DefaultMinTokens, Curation.DefaultMinQuality)
        .orderBy("doc_id")
    },
    // §7.5 — cross-modal curation: the near-dup gate runs in
    // embedding space (SemDeDup decision), then the text gates.
    "q_curate_semantic" -> withTables { s =>
      val emb = s.table("embeddings")
      Curation.curateSemantic(s.table("documents"), emb,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .orderBy("doc_id")
    },
    // §7.5 — the SAME cross-modal curation verdict, but the near-dup
    // gate probes the PERSISTED cell index (built once in
    // prewarmIndexes — the build/serve split for the n^1.5
    // low-threshold pair-mining cost): identical results, identical
    // oracle; the n·nlist assignment is paid at build, not per run.
    "q_curate_semantic_indexed" -> withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe, regime = Similarity.PairRegime.Plain)
        .orderBy("doc_id")
    },
    // §7.5 — the SAME verdict a third way: the indexed probe with the
    // SQ8 pre-screen inside cells (the declared escalation past the
    // n^1.5 exact-dot tail — PLANS.md). The screen's quantization
    // bound makes it lossless BY CONSTRUCTION, so the query shares
    // the oracle; q_sq8_screen_audit re-proves losslessness on the
    // data every round.
    "q_curate_semantic_screened" -> withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe, regime = Similarity.PairRegime.Screened)
        .orderBy("doc_id")
    },
    // §7.5 — what a USER calls (VERDICT r13 task 3): the same verdict
    // with the mining regime picked automatically from the index's
    // measured within-cell candidate volume — plain exact dots below
    // the cutoff (where the screen's survivor re-fetch was a measured
    // sf1 loss), the SQ8 screen above it (the measured sf10 −17%).
    // Both regimes are bit-identical, so this shares their oracle; the
    // two pinned queries above stay as the per-regime bench evidence.
    "q_curate_semantic_auto" -> withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe)
        .orderBy("doc_id")
    },
    // §7.5 — screen-stage audit (the lshStageAudit posture): over ALL
    // within-cell candidates, every exact ≥-threshold pair survived
    // the SQ8 screen; the oracle recomputes the exact pair count and
    // pins screen_lossless against literal TRUE.
    "q_sq8_screen_audit" -> withTablesSf { (s, sfDir) =>
      Similarity.sq8ScreenAudit(s, cellIndexDir(s, sfDir),
        threshold = 0.4, nprobe = semDedupNprobe)
    },
    // §7.5 extensions — multimodal binary-column metadata.
    // §7.5 — magic-byte sniffing end-to-end: payloads are CONSTRUCTED
    // with a real container signature chosen by doc_id, then the
    // engine actually sniffs the bytes. The oracle derives the
    // expected kind independently from doc_id — ground truth by
    // construction, not a mirrored implementation.
    "q_multimodal_sniff" -> withTables { s =>
      val sigs = Multimodal.MagicSignatures.map { case (_, b) => lit(b) }
      val media = concat(
        element_at(array(sigs: _*), (col("doc_id") % sigs.size).cast("int") + 1),
        encode(col("text"), "UTF-8"))
      s.table("documents")
        .select(Multimodal.sniffKind(media).as("sniffed_kind"))
        .groupBy("sniffed_kind").agg(count(lit(1)).as("n_assets"))
        .orderBy("sniffed_kind")
    },
    // Chunk-level content-addressable dedup across binary assets (the
    // CAS sizing report; digest-keyed shuffle only).
    "q_chunk_dedup" -> withTables { s =>
      Multimodal.chunkDedup(Multimodal.assetTable(s.table("documents")))
        .orderBy("chunk_md5")
    },
    // Perceptual (dHash) near-dup pairs over binary payloads: banded
    // Hamming join (collision-sized, never all-pairs) + exact verify.
    "q_phash_neardup" -> withTables { s =>
      Multimodal.phashNearDupPairs(Multimodal.assetTable(s.table("documents")))
        .orderBy("id_a", "id_b")
    },
    // §7.5 — multimodal frame-sampling plan: the row-per-frame seek
    // schedule a decoder fleet consumes; cadence/offsets are real
    // integer plumbing, the duration clock is the documented stub.
    "q_frame_plan" -> withTables { s =>
      Multimodal.frameSamplePlan(
        Multimodal.assetTable(s.table("documents")),
        frameIntervalMs, frameMsPerByte)
    },
    "q_multimodal_meta" -> withTables { s =>
      val assets = Multimodal.withChecksums(
        Multimodal.assetTable(s.table("documents")))
      assets.select(
        col("asset_id"), col("kind"), col("byte_len"), col("checksum"),
        col("meta.origin").as("origin"),
        col("meta.declared_bytes").as("declared_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        size(Multimodal.chunk(col("media"), 64)).as("n_chunks"),
        size(Multimodal.sampleChunks(col("media"), 64, 2)).as("n_sampled"),
        md5(substring(col("media"), 1, 64)).as("head_chunk_md5"))
        .orderBy("asset_id")
    },
    // §7.5 extensions — event-time windowing + sessionization.
    "q_events_hourly" -> withTables { s =>
      Events.tumblingHourlyExact(s.table("events"))
    },
    "q_events_sessions" -> withTables { s =>
      Events.sessionSummary(s.table("events"))
    },
    // §7.5 — telemetry debounce: collapse same-(user,type) bursts
    // within 60 s before any downstream count is trusted (one lag
    // window on the sessionize key distribution).
    "q_events_debounce" -> withTables { s =>
      Events.debounceSummary(s.table("events"), debounceGapSeconds)
    },
    // §2.4/§7.5 — exact per-group quantiles WITHOUT per-group value
    // buffering (value-counts + cumsum + Percentile interpolation;
    // Spark's own exact `percentile` would OOM a hot group at scale).
    "q_group_quantiles" -> withTables { s =>
      graft.ext.Quantiles.groupQuantiles(
        s.table("events"), "event_type", "value", quantilePs)
        .orderBy("event_type")
    },
    // §7.5 — TOKEN-weighted doc-length quantiles per language (the
    // median doc length of the token MASS, not the doc count); same
    // value-counts machinery as q_group_quantiles with weights summed
    // where counts counted.
    "q_weighted_quantiles" -> withTables { s =>
      val d = s.table("documents").withColumn("__w",
        size(TextStats.tokens(col("text"))).cast("long"))
      graft.ext.Quantiles.groupQuantilesWeighted(
        d, "lang", "n_chars", "__w", quantilePs).orderBy("lang")
    },
    // §7.5 — fuzzy (edit-distance) dedup: MinHash/LSH candidates
    // re-verified with Levenshtein over canonicalized text — catches
    // small in-place edits that set-Jaccard under-reports. The
    // quadratic scorer only ever sees band collisions.
    "q_dedup_fuzzy" -> withTables { s =>
      Dedup.editDistanceNearDups(s.table("documents"),
          maxRatioNum = fuzzyRatioNum, maxRatioDen = fuzzyRatioDen)
        .orderBy("id_a", "id_b")
    },
    // §7.5 — data-quality constraint report (validation gate before a
    // batch is admitted): all row-local checks in ONE scan pass, key
    // uniqueness via one keyed group-by, referential integrity via
    // one equi-join; exact integer counts.
    "q_data_checks" -> withTables { s =>
      import graft.ext.Checks
      Checks.report(s.table("lineitem"), Seq(
        Checks.NotNull("l_shipdate"),
        Checks.AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        Checks.NumericBounds("l_quantity", checkQtyLo, checkQtyHi),
        Checks.NumericBounds("l_extendedprice", checkPriceLo, checkPriceHi),
        Checks.UniqueKey(Seq("l_orderkey", "l_linenumber")),
        Checks.ForeignKey(Seq("l_orderkey"), s.table("orders"),
          Seq("o_orderkey"), "orders")))
    },
    // §7.5 — MERGE INTO (upsert + delete change set applied to a
    // snapshot): one anti-join + union, the table-maintenance op.
    // The change set is derived deterministically from orders so both
    // engines construct the identical merge input.
    "q_merge_upsert" -> withTables { s =>
      import graft.ext.Merge
      val base = s.table("orders").select(col("o_orderkey"), col("o_totalprice"))
      val deletes = base.where(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
          lit(Merge.Delete).as(Merge.OpCol))
      val updates = base.where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      val inserts = base.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_totalprice"), lit(Merge.Upsert).as(Merge.OpCol))
      Merge.applyChangeSet(base, deletes.unionByName(updates).unionByName(inserts),
          "o_orderkey")
        .select(col("o_orderkey"), round(col("o_totalprice"), 5).as("total"))
        .orderBy("o_orderkey")
    },
    // §7.5 — snapshot-isolated table format: a 4-commit history
    // (init/append/copy-on-write merge/compaction) over the orders
    // payload, then a TIME-TRAVEL read of every version — each
    // version's rows and the log's own rows_added audited against
    // the oracle's relational reconstruction of the same states.
    "q_table_history" -> withTablesSf { (s, sfDir) =>
      val d = tableLogDemoDir(s, sfDir)
      val hist = TableLog.history(s, d)
        .select("version", "op", "rows_added")
      val states = (0 to 3).map { v =>
        TableLog.read(s, d, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,6)"))
            .cast("double"), 5).as("sum_price"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
      hist.join(states, Seq("version"))
        .select("version", "op", "rows_added", "n_rows", "sum_price")
        .orderBy("version")
    },
    // §7.6 — TIME TRAVEL AS SQL TEXT (VERDICT r14 task 6): the same
    // 4-version lifecycle read through `FOR VERSION AS OF n` in the
    // dialect (TableLogSql), sharing q_table_history's oracle
    // verbatim — the text surface must reproduce the API surface's
    // states bit-for-bit.
    "q_table_history_sql" -> withTablesSf { (s, sfDir) =>
      val d = tableLogDemoDir(s, sfDir)
      val hist = TableLog.history(s, d)
        .select("version", "op", "rows_added")
      val states = (0 to 3).map { v =>
        graft.exec.TableLogSql.select(s,
          s"""SELECT count(*) AS n_rows,
             |  round(cast(sum(cast(o_totalprice AS decimal(18,6))) AS double), 5)
             |    AS sum_price
             |FROM orders_tl FOR VERSION AS OF $v""".stripMargin,
          Map("orders_tl" -> d))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
      hist.join(states, Seq("version"))
        .select("version", "op", "rows_added", "n_rows", "sum_price")
        .orderBy("version")
    },
    // §7.5 — streaming ingestion WITH a maintenance policy: one file
    // per micro-batch lands as an append commit and the table
    // auto-compacts (history-preserving) when live files exceed the
    // bound. The op sequence + per-commit file counts are a pure
    // function of the policy, and the final state must equal orders
    // exactly — the oracle pins both.
    "q_table_compaction" -> withTablesSf { (s, sfDir) =>
      val d = s"${tableCompactionDir(s, sfDir)}/tbl"
      val hist = TableLog.history(s, d)
        .select("version", "op", "n_files_added", "n_files_removed")
      val fin = TableLog.read(s, d).agg(
        count(lit(1)).as("n_rows_final"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price_final"))
      hist.crossJoin(fin).orderBy("version")
    },
    // §7.6 — ANSI MERGE INTO as TEXT, executed by the dialect's DML
    // surface against the table format: delete / partial-SET update /
    // conditional insert / survivors in one statement, then a read of
    // the committed final state. The oracle reconstructs the merged
    // relation with explicit joins — hash-green proves the parser,
    // the clause routing (incl. ANSI partial-SET keeping TARGET
    // values) and the copy-on-write commit end-to-end.
    "q_merge_sql" -> withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    // §7.6 — composite-key MERGE as TEXT: the ON clause is a
    // two-column equality conjunction; rows matching on only ONE
    // component are NOT MATCHED and insert (the oracle reconstructs
    // exactly that routing, so a single-key join hash-fails).
    "q_merge_sql_composite" -> withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlCompositeDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey", "o_custkey")
    },
    // §7.6 — WHEN NOT MATCHED BY SOURCE (full-sync MERGE, the
    // Delta-spelled extension): matched rows take the doubled price,
    // feed-departed rows with an even custkey are deleted, odd-custkey
    // departures survive — the oracle reconstructs all three routes.
    "q_merge_sql_bysource" -> withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlBySourceDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    // §7.5 — SCHEMA EVOLUTION through the table format: an evolved
    // table's merged read — old files' young column as NULL, new
    // file's values exact, row set untouched — aggregated into facts
    // the oracle reconstructs from orders.
    "q_tablelog_evolve" -> withTablesSf { (s, sfDir) =>
      TableLog.read(s, tableLogEvolveDir(s, sfDir)).agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price"),
        count(col("o_flag")).as("n_flagged"),
        sum(col("o_flag")).as("sum_flag"))
    },
    // §7.5 — DATA SKIPPING through the table format (VERDICT r14
    // task 1): a selective predicate over a range-sliced TableLog
    // table resolves its file list from commit-log zone maps alone.
    // The oracle pins BOTH the content (count + price sum over the
    // filtered orders) and the scanned-file count — 1 of 4 live
    // files — so a regression that silently stops pruning (or,
    // worse, prunes a qualifying file) hash-fails, the
    // q_knn_ivf_indexed pruned-probe precedent applied to the
    // durable table layer.
    "q_tablelog_skipping" -> withTablesSf { (s, sfDir) =>
      val d = tableLogSkipDir(s, sfDir)
      val m = s.table("orders")
        .agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
      val pruned = TableLog.readWhere(s, d, s"o_orderkey <= ${m / 8}")
      pruned.agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price"))
        .withColumn("n_files_scanned", lit(pruned.inputFiles.length))
        .withColumn("n_files_live", lit(TableLog.liveFileCount(d)))
    },
    // §7.5 — row-level snapshot diff (applyChangeSet's inverse): two
    // snapshots in, (key, added/removed/changed) out. Digest-compare
    // inside Spark; the oracle re-detects by direct value comparison,
    // so no float-to-string formatting crosses engines. The "new"
    // snapshot is derived deterministically from orders.
    "q_snapshot_diff" -> withTables { s =>
      import graft.ext.Merge
      val o = s.table("orders")
      val kept = o.filter(col("o_orderkey") % snapRemovedMod =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % snapChangedMod === 0,
            col("o_totalprice") + 1).otherwise(col("o_totalprice")))
      val added = o.filter(col("o_orderkey") % snapAddedMod === 0)
        .withColumn("o_orderkey", col("o_orderkey") + snapAddedOffset)
      Merge.snapshotDiff(o, kept.unionByName(added), "o_orderkey",
          Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy("o_orderkey")
    },
    // §7.5 — Tukey boxplot fences from ONE exact quantile pass:
    // per-group outlier counts + recommended action signal (the cheap
    // robust-outlier report that precedes a winsorize decision).
    "q_outliers" -> withTables { s =>
      graft.ext.Quantiles.tukeyOutliers(s.table("events"), "event_type",
          "value", tukeyK)
        .orderBy("event_type")
    },
    // §7.5 — MAD modified-z-score outliers: the highest-breakdown
    // robust scale estimator (Tukey's IQR collapses at 25%
    // contamination, MAD only past 50%).
    "q_mad_outliers" -> withTables { s =>
      graft.ext.Quantiles.madOutliers(s.table("events"), "event_type",
          "value", madK)
        .orderBy("event_type")
    },
    // §7.5 — heavy-hitter diagnostic: which keys need salting, and by
    // how much (the operational front door to saltedAgg/saltedJoin).
    "q_skew_report" -> withTables { s =>
      graft.ext.Skew.skewReport(s.table("events"), "event_type", skewReportK)
        .orderBy("key")
    },
    // §7.5 — winsorization: clip each event value to its type's
    // [p5, p95] band (broadcast bounds join; data side stays map-only)
    // then roll up clip counts and the clipped decimal sum.
    "q_winsorize" -> withTables { s =>
      graft.ext.Quantiles.winsorize(s.table("events"), "event_type", "value",
          winsorLo, winsorHi)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("__lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("value") > col("__hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
          round(sum(col("clipped").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_clipped"))
        .orderBy("event_type")
    },
    // §7.5 — skew-salted equi-join: hot event_type keys spread over 16
    // reducers; results are the plain join's (the salt is an equi-key
    // refinement — that equivalence IS the oracle check).
    "q_skew_join" -> withTables { s =>
      import s.implicits._
      val dim = typeWeights.toDF("event_type", "weight")
      graft.ext.Skew.saltedJoin(s.table("events"), dim,
          keyCol = "event_type", carrierCol = "event_id", salts = 16)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum((col("value") * col("weight")).cast("decimal(18,6)"))
            .cast("double"), 5).as("weighted_value"))
        .orderBy("event_type")
    },
    // §7.5 — bucketed range join: value→band lookup as an EQUI-join
    // on overlap buckets (the naive BETWEEN join is a nested loop),
    // rolled up per band.
    "q_range_join" -> withTables { s =>
      import s.implicits._
      val bands = valueBands.toDF("label", "lo", "hi")
      graft.ext.RangeJoin.bucketed(s.table("events"), bands,
          valueCol = "value", loCol = "lo", hiCol = "hi",
          bucketWidth = rangeBucketWidth)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_value"))
        .orderBy("label")
    },
    // §2.4/§7.5 — equi-width histogram per event type: map-only
    // bucket projection + ONE map-side-combined shuffle, no window.
    "q_histogram" -> withTables { s =>
      graft.ext.Quantiles.histogram(s.table("events"), "event_type", "value",
          histogramWidth)
        .orderBy("event_type", "bucket")
    },
    // §2.4/§7.5 — equi-DEPTH histogram: k ~equal-population buckets
    // bounded by the group's exact i/k quantiles (one quantile pass,
    // boundaries broadcast back, map-side-combined roll-up).
    "q_histogram_depth" -> withTables { s =>
      graft.ext.Quantiles.equiDepthHistogram(
          s.table("events"), "event_type", "value", equiDepthK)
        .orderBy("event_type", "bucket")
    },
    // §7.5 — Z-order key: Morton interleave of (user, day) verified
    // bit-for-bit (the layout-clustering key used for 2-D data
    // skipping; see ZOrder.clusterBy for the write path).
    "q_zorder" -> withTables { s =>
      val e = s.table("events")
        .withColumn("day_num",
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"))
      e.select(col("event_id"), col("user_id"), col("day_num"),
          graft.ext.ZOrder.morton2(col("user_id"), col("day_num")).as("zkey"))
        .orderBy("event_id")
    },
    // §7.5 — cohort retention matrix (first-activity cohorts × day
    // offsets; no distinct aggregate — input pre-distincted).
    "q_cohort_retention" -> withTables { s =>
      Events.cohortRetention(s.table("events"), retentionMaxOffset)
        .orderBy("cohort_day", "day_offset")
    },
    // §7.5 — cumulative distinct-user growth curve (one user-keyed
    // min; the running sum spans one row per calendar day).
    "q_user_growth" -> withTables { s =>
      Events.userGrowth(s.table("events")).orderBy("day_num")
    },
    // §7.5 — RFM segmentation scored by exact-quantile thresholds:
    // no ntile, no global window — the quintile boundaries come from
    // the range-sharded exact quantile operator and each user scores
    // by threshold comparison.
    "q_events_rfm" -> withTables { s =>
      Events.rfmScores(s.table("events")).orderBy("user_id")
    },
    // §7.5 — FIRST-touch attribution: each purchase joined to its
    // user's earliest prior click (complement of q_events_asof's
    // last-touch); one user-keyed min + one equi-join, no window.
    "q_events_attribution" -> withTables { s =>
      Events.firstTouchAttribution(s.table("events"))
        .orderBy("event_id")
    },
    // §7.5 — SCD type-2 dimension history: each user's event_type
    // sequence collapsed to versioned validity intervals (one key
    // shuffle serving both windows).
    "q_scd2" -> withTables { s =>
      Events.scd2History(s.table("events"))
        .orderBy("user_id", "version")
    },
    // §7.5 — day-over-day deltas per event type (lag window over the
    // collapsed per-day frame; decimal-exact subtraction).
    "q_events_delta" -> withTables { s =>
      Events.dailyDelta(s.table("events"))
        .orderBy("event_type", "day_num")
    },
    // §7.5 — trailing 7-day rolling totals per event type (integer
    // epoch-day RANGE frame: absent days fall out of the window).
    "q_events_rolling" -> withTables { s =>
      Events.rollingDaily(s.table("events"), rollingDays)
        .orderBy("event_type", "day_num")
    },
    // §7.5 — gap-filled daily series (zero-fill + forward-fill): the
    // hole-free spine rolling averages and baselines assume.
    "q_events_gapfill" -> withTables { s =>
      Events.gapFillDaily(s.table("events"))
        .orderBy("event_type", "day_num")
    },
    // §7.5 — hopping hourly windows (30-min slide): map-side 2×
    // expansion collapsed by partial agg before the shuffle.
    "q_events_hopping" -> withTables { s =>
      Events.hoppingHourly(s.table("events"))
    },
    // §7.5 — trailing z-score spike/drop flags against the prior-week
    // baseline (current day excluded from its own baseline).
    "q_events_anomaly" -> withTables { s =>
      Events.anomalyFlags(s.table("events"), anomalyWindowDays,
        anomalyK, anomalyMinDays).orderBy("event_type", "day_num")
    },
    // §7.5 — ordered funnel signup → click → purchase: per-user stage
    // times (µs; a broken funnel nulls every later stage). One user
    // shuffle + order-independent min-of-filter HOFs.
    "q_events_funnel" -> withTables { s =>
      Events.funnelStages(s.table("events"), funnelStageNames)
        .where(col("stage0_us").isNotNull)
        .select(col("user_id"), col("stage0_us").as("signup_us"),
          col("stage1_us").as("click_us"), col("stage2_us").as("purchase_us"))
        .orderBy("user_id")
    },
    // §7.5 — as-of join (union + last-over-window: one key shuffle,
    // no range-join blowup): each purchase gets the user's latest
    // prior-or-equal click. Clicks collapse to one row per (user, ts)
    // first — as-of on duplicate right timestamps is tie-dependent.
    "q_events_asof" -> withTables { s =>
      val e = s.table("events").withColumn("ts_us", graft.ext.Events.epochUs(col("ts")))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      Events.asofJoin(purchases, clicks,
          keyCol = "user_id", leftTsCol = "ts_us", rightTsCol = "ts_us",
          rightPayload = Seq("click_value"))
        .withColumn("us_since_click", col("ts_us") - col("asof_ts_us"))
        .orderBy("event_id")
    },
    // §7.5 — skew-mitigated aggregation: event_type has ~5 hot values,
    // the salted two-phase plan spreads each over 16 reducers.
    "q_events_salted_agg" -> withTables { s =>
      graft.ext.Skew.saltedCountSum(s.table("events"),
        keyCol = "event_type", valueCol = "value",
        carrierCol = "event_id", salts = 16)
        .orderBy("event_type")
    },
    // §4 scale path — sketch-based profile (approx_count_distinct +
    // percentile_approx); rows-only check (approximate by construction).
    "q_profile_approx" -> withTables { s =>
      TableProfiler.approxProfile(s.table("lineitem"))
    },
    // §8.3 — oracle-checkable gate for the sketch profile above:
    // exact per-column facts (one value-counts shuffle, never
    // Expand×N) + the ExtSpec envelopes as hashed booleans.
    "q_profile_approx_check" -> withTables { s =>
      TableProfiler.approxProfileCheck(s.table("lineitem"))
    },
    // §2.8/§1.3 — typed JSON extraction from the events props column
    // (the engine's JSON surface on table data; from_json with an
    // explicit schema is the codegen'd, no-UDF path).
    "q_events_json" -> withTables { s =>
      s.table("events")
        .withColumn("k", from_json(col("props"), "k BIGINT",
          Map.empty[String, String]).getField("k"))
        // floor, not cast: Spark's double->long cast truncates but
        // DuckDB's rounds — floor + // keep both sides identical
        .groupBy(floor(col("k") / 10).cast("long").as("k_bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_value"))
        .orderBy("k_bucket")
    },
    // §2.1 sources — a CSV-registered table (staged once from the
    // parquet original; see csvSourceDir) joined against a parquet
    // dim: the oracle runs on parquet, so hash-green proves the CSV
    // decode path (header, quoting, INT parsing) is lossless.
    "q_csv_source" -> withTablesSf { (s, sfDir) =>
      val nation = s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").csv(s"${csvSourceDir(s, sfDir)}/nation")
      nation.join(s.table("region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy("r_name")
    },
    // §2.1 sources — a JSON-lines-registered table (staged once; see
    // jsonSourceDir) with DOUBLE columns: hash-green proves the
    // shortest-round-trip number encoding survives the text hop
    // bit-exactly (the decimal-cast sum would drift on any ulp loss).
    "q_json_source" -> withTablesSf { (s, sfDir) =>
      val sup = s.read
        .schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(s"${jsonSourceDir(s, sfDir)}/supplier")
      sup.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_acctbal"))
        .orderBy("s_nationkey")
    },
    // §2.1 sinks — CSV write-then-read through the engine's own
    // pinned-option sink/reader pair (see csvSinkDir): the oracle
    // aggregates the parquet original, so hash-green proves the WRITE
    // path lossless, not just the read.
    "q_csv_roundtrip" -> withTablesSf { (s, sfDir) =>
      val cust = graft.sources.FileSinks.readCsv(s,
        s"${csvSinkDir(s, sfDir)}/customer",
        "c_custkey LONG, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
      cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_acctbal"),
          min(col("c_name")).as("first_name"))
        .orderBy("c_mktsegment")
    },
    // §2.3 joins — fact-to-dimension star join over part + supplier
    // (both broadcast), decimal-exact revenue per brand.
    "q_brand_revenue" -> withTables { s =>
      s.table("lineitem")
        .join(s.table("part"), col("l_partkey") === col("p_partkey"))
        .join(s.table("supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          countDistinct(col("s_suppkey")).as("n_suppliers"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double"), 5).as("revenue"))
        .orderBy("p_brand")
    },
    // §2.5 window functions — join + per-group top-k rank.
    "q_topk_per_nation" -> withTables { s =>
      val rev = s.table("lineitem")
        .join(s.table("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(s.table("customer"), col("o_custkey") === col("c_custkey"))
        .join(s.table("nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double"), 5).as("revenue"))
      val w = Window.partitionBy("n_name")
        .orderBy(col("revenue").desc, col("c_custkey").asc)
      rev.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("n_name", "c_custkey", "c_name", "revenue", "rank")
        .orderBy("n_name", "rank")
    },
    // §7.5 — sketch-pruned EXACT heavy hitters: per-partition
    // Misra–Gries candidates (guaranteed superset above frequency
    // 1/(cap+1)), broadcast-semi-join recount, integer threshold. The
    // sketch bounds the shuffle; the answer is partition-independent.
    "q_heavy_hitters" -> withTables { s =>
      graft.ext.Stats.heavyHitters(s.table("documents"), "text", hhCapacity)
    },
    // Lorenz/Gini revenue concentration over per-customer order
    // totals — exact rank sums from the two-phase sharded cumsum (no
    // global sort task), decimal arithmetic to one rounded division.
    "q_gini_revenue" -> withTables { s =>
      graft.ext.Stats.lorenzGini(
        s.table("orders").groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("revenue")),
        "revenue")
    },
    // Benford first-digit audit of order amounts: integer-exact digit
    // extraction (cent-quantized rendering, no log/pow edge), 9-row
    // chi-square frame.
    "q_benford" -> withTables { s =>
      graft.ext.Stats.benfordReport(s.table("orders"), "o_totalprice")
    },
    // CUSUM mean-shift changepoint over the daily event-count series
    // — all-integer statistic (scaled by the day count), argmax day(s)
    // flagged.
    "q_cusum" -> withTables { s =>
      graft.ext.Stats.cusumChangepoint(s.table("events"), "ts")
    },
    // Kaplan–Meier signup→purchase conversion curve with right
    // censoring at the corpus horizon — duration-grid-bounded
    // windows, ln-quantized exact survival accumulation.
    "q_kaplan_meier" -> withTables { s =>
      graft.ext.Stats.kaplanMeier(s.table("events"), kmStartType, kmEndType)
    },
    // CUPED variance-reduced experiment readout on the q_ab_srm
    // buckets: θ from exact decimal moments, per-arm adjusted means.
    "q_cuped" -> withTables { s =>
      graft.ext.Stats.cupedReport(s.table("events"), "user_id", "value",
        "ts", cupedSplitTs, abVariants, abSalt)
    },
    // k-anonymity / l-diversity audit of customer quasi-identifiers
    // (nation × market segment; sensitive = account-balance band).
    "q_k_anonymity" -> withTables { s =>
      graft.ext.Stats.kAnonymity(
        s.table("customer").withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", kAnonK)
    },
    // Isotonic probability calibration of the quality blend against
    // the is-English label — the minimax (relational, loop-free) PAV
    // solution over bin-bounded frames.
    "q_isotonic" -> withTables { s =>
      graft.ext.Eval.isotonicCalibration(
        TextStats.withDocStats(s.table("documents")),
        col("lang") === dsirTargetLang, col("quality_score"),
        isotonicBins)
    },
    // Closed-form per-group OLS (price ~ quantity + discount): one
    // moment aggregation per group, Cramer-rule solve on the group row.
    "q_ols" -> withTables { s =>
      graft.ext.Stats.olsRegression(s.table("lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity", "l_discount")
    },
    // Zone-map skipping effectiveness: linear vs z-order file layouts
    // replayed against per-dimension / point probe workloads — the
    // measured version of the OPTIMIZE...ZORDER decision. One corpus
    // scan; everything downstream is file/probe-bounded.
    "q_skipping" -> withTables { s =>
      graft.ext.ZOrder.skippingReport(
        s.table("events").withColumn("day_num",
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")),
        "user_id", "day_num", skipFiles, skipProbes)
    },
    // Log-rank test: did the md5 cohort change WHEN users convert —
    // the censoring-aware hypothesis test beside the KM curve.
    "q_logrank" -> withTables { s =>
      graft.ext.Stats.logRank(s.table("events"), kmStartType, kmEndType,
        abSalt)
    },
    // Difference-in-differences over the 2×2 cohort × pre/post design.
    "q_did" -> withTables { s =>
      graft.ext.Stats.diffInDiff(s.table("events"), "user_id", "value",
        "ts", cupedSplitTs, abSalt)
    },
    // Minimum detectable effect per experiment arm (α=0.05, 80%
    // power) — the could-this-test-even-see-it check.
    "q_ab_power" -> withTables { s =>
      graft.ext.Stats.abPower(s.table("events"), "user_id", "value",
        abVariants, abSalt)
    },
    // Funnel hop latency: exact per-stage-pair quantiles of first-i
    // to first-(i+1)-after-it µs — how LONG each hop takes, beside
    // the funnel's who-converts counts.
    "q_funnel_latency" -> withTables { s =>
      Events.funnelLatency(s.table("events"), funnelStageNames,
        quantilePs)
    },
    // Theil–Sen robust daily trend per type — the slope one outlier
    // day cannot drag (pairwise-median over the bounded day grid).
    "q_theil_sen" -> withTables { s =>
      Events.theilSen(s.table("events"))
    },
    // Label-propagation communities over the co-purchase graph —
    // fixed synchronous rounds (the quantized-trajectory contract),
    // one label row of state per node per round.
    "q_communities" -> withTablesSf { (s, sfDir) =>
      graft.ext.Graph.labelPropagation(
        coPurchaseEdges(s, sfDir), lpaIters)
    },
    // Day-of-week seasonal decomposition — the "is that drop just
    // Saturday" read BEFORE trusting trend/anomaly output.
    "q_seasonal_dow" -> withTables { s =>
      Events.seasonalDow(s.table("events"))
    },
    // Zero-filled daily-count autocorrelation at lags 1..7 — the
    // periodicity fingerprint (r7 = weekly rhythm strength).
    "q_acf_daily" -> withTables { s =>
      Events.acfDaily(s.table("events"), acfMaxLag)
    },
    // Split-conformal prediction intervals around quality ~ n_chars
    // per source: distribution-free error bars + realized coverage.
    "q_conformal" -> withTables { s =>
      graft.ext.Stats.conformalOls(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "source", "n_chars", "quality_score"),
        "source", "quality_score", "n_chars",
        conformalCovNum, conformalCovDen)
    },
    // Fellegi–Sunter match scores over the sorted-neighborhood
    // candidate pairs: data-estimated chance-agreement weights, an
    // exact-decimal log-likelihood-ratio score, 3-way verdict.
    "q_linkage_score" -> withTables { s =>
      Dedup.linkageScores(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen)
    },
    // Personalized PageRank over the co-purchase graph, teleporting
    // to one brand's parts — "buyers of this brand also buy" ranks.
    "q_ppr" -> withTablesSf { (s, sfDir) =>
      Graph.personalizedPageRank(
        coPurchaseEdges(s, sfDir),
        s.table("part").filter(col("p_brand") === pprSeedBrand)
          .select(col("p_partkey").as("node")),
        pageRankIters).orderBy("node")
    },
    // Incrementally maintained (count, sum) view under the
    // q_merge_upsert change set — delta algebra, never a re-scan;
    // the oracle recomputes the view from the merged snapshot, so a
    // wrong retraction/addition fails the hash.
    "q_incremental_agg" -> withTables { s =>
      import graft.ext.Merge
      val base = s.table("orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val deletes = base.where(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"),
          lit(Merge.Delete).as(Merge.OpCol))
      val updates = base
        .where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      val inserts = base.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      Merge.incrementalAgg(base,
        deletes.unionByName(updates).unionByName(inserts),
        "o_orderkey", "o_orderstatus", "o_totalprice")
    },
    // Binary sign-quantized ANN: 1 bit/dim packed into one BIGINT,
    // Hamming-ranked candidates, exact-cosine rerank — the most
    // compressed member of the quantization family (SQ8, PQ, binary).
    "q_knn_binary" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
          rerank = sq8Rerank)
        .orderBy("query_id", "rank")
    },
    // Contrastive hard-negative mining: per query, top-k neighbors in
    // the informative band [floor, ceiling) — excludes positives/
    // near-dups above and trivially-easy negatives below.
    "q_hard_negatives" -> withTables { s =>
      val emb = s.table("embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5),
          k = 10, hardNegFloor, hardNegCeiling)
        .orderBy("query_id", "rank")
    },
    // MMR diversified rerank: greedy relevance-vs-redundancy selection
    // from each query's brute-force candidate list.
    "q_mmr_rerank" -> withTables { s =>
      graft.ext.Search.mmrRerank(s.table("embeddings"), mmrQueryIds,
        mmrCandidateK, mmrSelectK)
    },
    // Exact EWMA (α = 1/2) of the daily value total per event type —
    // integer power-of-two weights in DECIMAL(38,0), one double
    // division per row.
    "q_ewma_daily" -> withTables { s =>
      Events.ewmaDaily(s.table("events"))
    },
    // Fellegi–Sunter EM: estimate per-field m/u probabilities and the
    // match proportion from the blocked candidate pairs themselves —
    // the unsupervised calibration behind q_linkage_score's weights.
    "q_linkage_em" -> withTables { s =>
      Dedup.linkageEm(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen, linkageEmIters)
    },
    // Graded ranking quality: MRR / average precision / nDCG@k of the
    // IVF retrieval vs brute-force truth — the position-sensitive
    // companions of q_ann_recall's hit-count curve.
    "q_ranking_quality" -> withTables { s =>
      val emb = s.table("embeddings")
      graft.ext.Eval.rankingQuality(emb, emb.filter(col("vec_id") < 5),
        k = 10, nlist = 16, nprobe = 2)
    },
    // Min-K% prob memorization audit: mean NLL of each doc's 20%
    // least-likely tokens under the corpus unigram LM — the
    // membership-inference tail signal the whole-doc mean dilutes.
    "q_mink_prob" -> withTables { s =>
      TextStats.minKProb(s.table("documents"), kPct = 20)
        .orderBy("doc_id")
    },
    // Fleiss' kappa: panel agreement of the THREE automatic labelers
    // (NB self-train, whole-doc langid, chunk-majority langid) — the
    // multi-rater generalization of q_label_kappa.
    "q_fleiss_kappa" -> withTables { s =>
      graft.ext.Classify.fleissKappa(s, s.table("documents"),
        langidChunkTokens)
    },
    // RM1 pseudo-relevance-feedback expansion: terms the BM25 top
    // hits rank by relevance-model mass — the second-pass query a
    // retrieval pipeline actually issues.
    "q_prf_expand" -> withTables { s =>
      graft.ext.Search.prfExpand(s.table("documents"), bm25Terms,
        fbDocs = prfFbDocs, fbTerms = prfFbTerms, bm25K1, bm25B)
    },
    // Golden records: the record-linkage family's terminal stage —
    // match verdicts -> connected components -> one merged row per
    // entity with majority-value survivorship per field.
    "q_golden_records" -> withTables { s =>
      Dedup.goldenRecords(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen)
    },
    // Content-key point lookup through the per-shard Bloom skipping
    // index: shards whose filter proves the key absent cost zero I/O;
    // survivors are scanned with the exact residual predicate (false
    // positives eliminated there -- pruning is I/O-only, never a
    // correctness dial). Returns the probe doc's exact-duplicate set.
    "q_bloom_skip_lookup" -> withTablesSf { (s, sfDir) =>
      val d = bloomSkipDir(s, sfDir)
      val key = s.table("documents")
        .filter(col("doc_id") === bloomSkipProbeDoc)
        .select(md5(col("text")).as("k")).head.getString(0)
      Sharding.lookupByKey(s, s"$d/data", s"$d/index", "content_key",
        key, bloomSkipMBits, bloomSkipK)
        .select("doc_id", "lang", "source").orderBy("doc_id")
    })

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  // time-travel read ≡ relational reconstruction of every version of
  // the tableLogDemoDir lifecycle — shared verbatim by the API-surface
  // query (q_table_history) and the SQL-text surface
  // (q_table_history_sql), so the two must hash identically
  private val tableHistoryOracleSql =
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
      |s0 AS (SELECT * FROM base WHERE o_orderkey % 4 = 0),
      |s2 AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 8 = 4 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM base
      |  WHERE (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0)
      |     OR o_orderkey % 4 = 2),
      |agg AS (
      |  SELECT 0 AS version, 'init' AS op,
      |    (SELECT count(*) FROM s0)::BIGINT AS rows_added,
      |    count(*)::BIGINT AS n_rows,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |      AS sum_price
      |  FROM s0
      |  UNION ALL
      |  SELECT 1, 'append',
      |    (SELECT count(*) FROM base WHERE o_orderkey % 4 = 1)::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM base WHERE o_orderkey % 4 <= 1
      |  UNION ALL
      |  SELECT 2, 'merge',
      |    (SELECT count(*) FROM s2)::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM s2
      |  UNION ALL
      |  SELECT 3, 'compact', 0::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM s2)
      |SELECT * FROM agg ORDER BY version""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_profile_lineitem" -> Oracles.profilePivot("lineitem", lineitemNumeric),
    "q_profile_lineitem_long" -> Oracles.profileLong("lineitem", lineitemNumeric),
    "q_profile_orders" -> Oracles.profilePivot("orders", ordersNumeric),
    "q_profile_wide_keys" -> Oracles.profileLong(
      "(SELECT l_orderkey * 1000000 AS wide_key, l_quantity FROM lineitem) AS t",
      Seq("wide_key", "l_quantity")),
    "q_profile_customer" -> Oracles.profilePivot("customer", customerNumeric),
    "q_profile_events" -> Oracles.profilePivot("events", eventsNumeric),
    "q_infoschema_lineitem" -> Oracles.infoSchemaValues("lineitem", lineitemTypes),
    "q_infoschema_numeric_filter" -> Oracles.numericFilterValues("lineitem", lineitemTypes),
    "q_profile_diff" -> Oracles.profileDiff(
      "lineitem", lineitemNumeric, "orders", ordersNumeric),
    "q_pricing_summary" -> pricingSummarySql,
    "q_top_orders" -> topOrdersSql,
    "q_semi_anti" -> semiAntiSql,
    "q_not_in_null" -> notInNullSql,
    "q_window_analytics" -> windowAnalyticsSql,
    "q_string_funcs" -> stringFuncsSql,
    "q_datetime_funcs" -> datetimeFuncsSql,
    "q_scd2" -> OraclesExt.scd2,
    "q_dup_spans" -> OraclesExt.dupSpans(dupSpanN, dupSpanMinDocs),
    "q_strip_spans" -> OraclesExt.stripSpans(dupSpanN, dupSpanMinDocs),
    "q_cohort_retention" -> OraclesExt.cohortRetention(retentionMaxOffset),
    "q_user_growth" -> OraclesExt.userGrowth,
    "q_events_attribution" -> OraclesExt.firstTouch,
    "q_events_rfm" -> OraclesExt.eventsRfm,
    "q_set_ops" -> setOpsSql,
    "q_revenue_by_nation" -> revenueByNationSql,
    "q_market_share" -> marketShareSql,
    "q_top_supplier" -> topSupplierSql,
    "q_shipping_priority" -> shippingPrioritySql,
    "q_forecast_revenue" -> forecastRevenueSql,
    "q_rollup_pricing" -> rollupPricingSql,
    "q_local_supplier_volume" -> localSupplierVolumeSql,
    "q_cube_pricing" -> cubePricingSql,
    "q_grouping_sets" -> groupingSetsPricingSql,
    "q_window_ranks" -> windowRanksSql,
    "q_event_transitions" -> OraclesExt.eventTransitions,
    "q_transition_entropy" -> OraclesExt.transitionEntropy,
    "q_events_trend" -> OraclesExt.eventsTrend,
    "q_correlated_max" -> correlatedMaxSql,
    "q_order_count_dist" -> orderCountDistSql,
    "q_large_orders" -> largeOrdersSql,
    "q_nation_trade" -> nationTradeSql,
    "q_promo_share" -> promoShareSql,
    "q_returned_items" -> returnedItemsSql,
    "q_chisq_lang_source" -> chisqSql,
    "q_mi_lang_source" -> miSql,
    "q_bootstrap_mean" -> bootstrapSql(bootstrapReplicates, "boot"),
    "q_copurchase_triangles" -> triangleSql,
    "q_kcore" -> OraclesExt.kCore(kCoreK, kCoreRounds),
    "q_link_prediction" ->
      OraclesExt.linkPrediction(linkPredK, linkPredMaxDegree,
        graft.ext.Graph.LinkPredCandBudget),
    "q_compaction_plan" ->
      OraclesExt.compactionPlan(compactionTargetBytes),
    "q_blocking_pairs" ->
      OraclesExt.sortedNeighborhood(snmWindow, snmBlockLen),
    "q_assoc_rules" -> assocRulesSql(assocMinSupport, assocK),
    "q_latest_state" -> OraclesExt.latestState,
    "q_winsorize" -> OraclesExt.winsorize(winsorLo, winsorHi),
    "q_outliers" -> OraclesExt.tukeyOutliers(tukeyK),
    "q_mad_outliers" -> OraclesExt.madOutliers(madK),
    "q_decayed_sum" -> OraclesExt.decayedSum(decayRefUs, decayHalfLifeDays),
    "q_inter_arrival" -> OraclesExt.interArrival(
      Seq(("p50_gap_us", 0.5), ("p90_gap_us", 0.9))),
    "q_skew_report" -> OraclesExt.skewReport(skewReportK),
    "q_dedup_fuzzy" -> OraclesExt.dedupFuzzy(fuzzyRatioNum, fuzzyRatioDen),
    "q_merge_upsert" -> OraclesExt.mergeUpsert,
    "q_data_checks" -> OraclesExt.dataChecks(
      checkQtyLo, checkQtyHi, checkPriceLo, checkPriceHi),
    "q_snapshot_diff" -> OraclesExt.snapshotDiff(snapRemovedMod,
      snapChangedMod, snapAddedMod, snapAddedOffset),
    "q_range_join" -> OraclesExt.rangeJoin(valueBands),
    "q_events_delta" -> OraclesExt.eventsDelta,
    "q_histogram" -> OraclesExt.histogram(histogramWidth),
    "q_histogram_depth" -> OraclesExt.equiDepthHistogram(equiDepthK),
    "q_zorder" -> OraclesExt.zorder,
    "q_skew_join" -> OraclesExt.skewJoin(typeWeights),
    "q_dedup_exact" -> OraclesExt.dedupExact,
    "q_dedup_normalized" -> OraclesExt.dedupNormalized,
    "q_dedup_ngram_jaccard" -> OraclesExt.dedupNgramJaccard,
    "q_lsh_audit" -> OraclesExt.lshAudit,
    "q_dedup_minhash_lsh" -> OraclesExt.dedupMinHashLsh,
    "q_cross_dedup" -> OraclesExt.crossDedup(testFraction),
    "q_dedup_clusters" -> OraclesExt.dedupClusters,
    "q_dedup_keep_best" -> OraclesExt.dedupKeepBest,
    "q_dedup_savings" -> OraclesExt.dedupSavings,
    "q_neardup_sources" -> OraclesExt.nearDupSources,
    "q_dedup_containment" -> OraclesExt.dedupContainment(containmentThreshold),
    "q_neardup_index_probe" -> OraclesExt.nearDupIndexProbe,
    "q_pagerank" -> OraclesExt.pageRank(pageRankIters),
    "q_dedup_simhash" -> OraclesExt.dedupSimHash,
    "q_embedding_neardup" -> OraclesExt.embeddingNearDup,
    "q_semdedup" -> OraclesExt.semDedupPairs(0.4, adaptiveNlistOracle, semDedupNprobe),
    "q_embedding_clusters" -> OraclesExt.embeddingClusters(adaptiveNlistOracle, semDedupNprobe),
    "q_knn_bruteforce" -> OraclesExt.knnBruteForce,
    "q_knn_filtered" -> OraclesExt.knnFiltered(dsirTargetLang),
    "q_random_projection" -> OraclesExt.randomProjection(outDims = 8, dims = 64),
    "q_knn_lsh" -> OraclesExt.knnLsh,
    "q_knn_ivf" -> OraclesExt.knnIvf,
    "q_ann_recall" -> OraclesExt.annRecall(10, 16, annRecallNprobes),
    "q_matryoshka_recall" ->
      OraclesExt.matryoshkaRecall(10, matryoshkaDims),
    "q_ann_recall_pq" -> OraclesExt.annRecallPq(pqM, pqKsub, pqDims / pqM,
      10, 16, annRecallNprobes),
    "q_knn_ivfpq_residual" -> OraclesExt.knnIvfPqResidual(pqM, pqKsub,
      pqDims / pqM, 10, 16, 4),
    "q_knn_ivf_indexed" -> OraclesExt.knnIvf,
    "q_knn_ivf_refined" -> OraclesExt.knnIvfRefined,
    "q_pq_codes" -> OraclesExt.pqCodes(pqM, pqKsub, pqDims / pqM),
    "q_knn_pq" -> OraclesExt.knnPq(pqM, pqKsub, pqDims / pqM, 10),
    "q_knn_ivfpq" -> OraclesExt.knnIvfPq(pqM, pqKsub, pqDims / pqM, 10, 16, 4),
    "q_knn_ivfpq_indexed" -> OraclesExt.knnIvfPq(pqM, pqKsub, pqDims / pqM, 10, 16, 4),
    "q_knn_ivfpq_refined" -> OraclesExt.knnIvfPqRefined(pqM, pqKsub, pqDims / pqM, pqRefineCandidateK, 10, 16, 4),
    "q_blocklist" -> OraclesExt.blocklist(blocklistPhrases),
    // Bucketing is invisible to results by construction: the oracle
    // is the plain join over the unbucketed tables.
    "q_bucketed_join" ->
      """SELECT lang, label, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars, min(doc_id) AS min_doc_id
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_embedding_kmeans" -> OraclesExt.kmeansProfile(kmeansNlist, kmeansRefine),
    "q_kmeans_silhouette" -> OraclesExt.kmeansSilhouette(kmeansNlist, kmeansRefine),
    "q_embedding_drift" -> OraclesExt.embeddingDrift,
    "q_embedding_dims" -> OraclesExt.embeddingDims,
    "q_knn_sq8" -> OraclesExt.knnSq8(10, sq8Rerank),
    "q_knn_lsh_multiprobe" -> OraclesExt.knnLshMultiprobe(10, 4),
    "q_cluster_sample" ->
      OraclesExt.clusterSample(kmeansNlist, kmeansRefine, clusterSampleCap),
    "q_text_stats" -> OraclesExt.textStats,
    "q_text_docstats" -> OraclesExt.textDocStats,
    "q_text_langid" -> OraclesExt.textLangId,
    "q_ngram_novelty" -> OraclesExt.ngramNovelty,
    "q_length_bias" -> OraclesExt.lengthBias,
    "q_mannwhitney" -> OraclesExt.mannWhitney(mwGroupA, mwGroupB),
    "q_waterfill" -> OraclesExt.waterFill(waterfillBudget),
    "q_kruskal_wallis" -> OraclesExt.kruskalWallis,
    "q_sprt" -> OraclesExt.sprtMonitor(sprtSuccessType,
      sprtP0, sprtP1, sprtAlpha, sprtBeta),
    "q_proximity_search" ->
      OraclesExt.proximityPairs(proxTermA, proxTermB, proxWindow),
    "q_zipf_fit" -> OraclesExt.zipfFit(zipfTopV),
    "q_label_kappa" -> OraclesExt.labelAgreement,
    "q_nb_confusion" -> OraclesExt.nbConfusion,
    "q_nb_cv" -> OraclesExt.nbCrossVal(kfoldK),
    "q_embedding_outliers" -> OraclesExt.clusterOutliers(kmeansNlist, kmeansRefine, outlierZ),
    "q_event_paths" -> OraclesExt.eventPaths(eventPathsK),
    "q_attrib_ushape" -> OraclesExt.uShapedAttribution("purchase", "click"),
    "q_active_users" -> OraclesExt.activeUsers(wauWindowDays),
    "q_neyman_alloc" -> OraclesExt.neymanAllocation(neymanBudget),
    "q_ab_srm" -> OraclesExt.abSrm(abVariants, abSalt),
    "q_attrib_markov" -> OraclesExt.markovAttribution("purchase", markovIters),
    "q_campaign_overlap" -> OraclesExt.campaignOverlap(campaignWindows, 1800L),
    "q_logreg" -> OraclesExt.logregTrain(dsirTargetLang, logregIters, logregLr),
    "q_logreg_predict" -> OraclesExt.logregPredict(dsirTargetLang, logregIters, logregLr),
    "q_logreg_pr" -> OraclesExt.logregPrCurve(dsirTargetLang, logregIters, logregLr),
    "q_logreg_calibration" -> OraclesExt.logregCalibration(dsirTargetLang, logregIters, logregLr, calibrationBins),
    "q_brier" -> OraclesExt.logregBrier(dsirTargetLang, logregIters,
      logregLr),
    "q_type_mix_drift" -> OraclesExt.typeMixDrift(typeMixThreshold),
    "q_auc" -> OraclesExt.auc(dsirTargetLang),
    "q_ks_drift" -> OraclesExt.ksDrift,
    "q_gate_threshold" -> OraclesExt.gateThresholds(dsirTargetLang, gateAlphas),
    "q_logreg_auc" -> OraclesExt.logregAuc(dsirTargetLang, logregIters, logregLr),
    "q_event_periodicity" -> OraclesExt.dailyAutocorrelation(autocorrLags),
    "q_boilerplate" -> OraclesExt.boilerplate(boilerplateN, boilerplateMinDocPct),
    "q_bpe_pairs" -> OraclesExt.bpePairs(bpePairsK),
    "q_bpe_merges" -> OraclesExt.bpeMerges(bpeRounds),
    "q_bpe_encode" -> OraclesExt.bpeEncode(bpeRounds),
    "q_bpe_fertility" -> OraclesExt.bpeFertility(bpeRounds),
    "q_text_fingerprint" -> OraclesExt.textFingerprint,
    "q_multimodal_meta" -> OraclesExt.multimodalMeta,
    "q_phash_neardup" -> OraclesExt.phashNearDup,
    "q_chunk_dedup" -> OraclesExt.chunkDedup(64),
    "q_multimodal_sniff" -> OraclesExt.multimodalSniff,
    "q_sample_stratified" -> OraclesExt.sampleStratified(stratifiedRates, stratifiedDefaultRate),
    "q_sample_split" -> OraclesExt.sampleSplit(testFraction),
    "q_sample_fixed" -> OraclesExt.sampleFixed(fixedSampleN, "sample"),
    "q_kfold" -> OraclesExt.kfold(kfoldK, "fold"),
    "q_ppl_buckets" -> OraclesExt.pplBuckets,
    "q_bitext_mine" -> OraclesExt.crossLingualPairs(0.4, adaptiveNlistOracle, semDedupNprobe),
    "q_source_overlap" -> OraclesExt.sourceOverlap,
    "q_importance_weights" -> OraclesExt.importanceWeights(dsirTargetLang),
    "q_dsir_sample" -> OraclesExt.dsirSample(dsirK, dsirTargetLang, dsirSalt),
    "q_shuffle_order" -> OraclesExt.shuffleOrder(shuffleShards, shuffleSalt),
    "q_tfidf_keywords" -> OraclesExt.tfidfKeywords(tfidfK),
    "q_rake_keywords" -> OraclesExt.rakeKeywords(rakeK, rakeMaxPhraseLen),
    "q_quantile_normalize" -> OraclesExt.quantileNormalize,
    "q_event_fano" -> OraclesExt.fanoFactor,
    "q_source_diversity" -> OraclesExt.sourceDiversity,
    "q_good_turing" -> OraclesExt.goodTuring(goodTuringMaxR),
    "q_psi_drift" -> OraclesExt.psiDrift(psiBins),
    "q_winnowing" -> OraclesExt.winnowing(winnowK, winnowW),
    "q_hits" -> OraclesExt.hits(hitsIters),
    "q_canary_scan" -> OraclesExt.canaryScan(canaryStrings),
    "q_pareto_front" -> OraclesExt.paretoFront,
    "q_reshard_plan" -> OraclesExt.reshardPlan(reshardOld, reshardNew,
      reshardVnodes, "shard"),
    "q_rrf_fusion" -> OraclesExt.rrfFusion(bm25Terms, hybridQueryVecId,
      rrfListK, rrfTopK, rrfKConst, bm25K1, bm25B),
    "q_changepoint" -> OraclesExt.bestChangepoint,
    "q_events_debounce" -> OraclesExt.eventsDebounce(debounceGapSeconds),
    "q_unpivot" -> OraclesExt.unpivotLineitem,
    "q_lang_source_matrix" -> OraclesExt.langSourceMatrix,
    "q_split_by_source" -> OraclesExt.splitBySource(testFraction),
    "q_split_by_cluster" -> OraclesExt.splitByCluster(testFraction, "csplit"),
    "q_pack_sequences" -> OraclesExt.packSequences(packBudget),
    "q_pack_efficiency" -> OraclesExt.packEfficiency(packBudget),
    "q_token_chisq" -> OraclesExt.discriminativeTokens(tokenChisqK),
    "q_chunk" -> OraclesExt.chunkDocs(chunkMaxTokens, chunkOverlap),
    "q_mixture_rebalance" -> OraclesExt.mixtureRebalance(mixtureWeights),
    "q_epoch_plan" -> OraclesExt.epochPlan(mixtureWeights,
      epochBudgetTokens, epochMaxRepeats),
    "q_mixture_temperature" -> OraclesExt.temperatureMixture,
    "q_top_tokens" -> OraclesExt.topTokens(topTokensK),
    "q_stop_candidates" -> OraclesExt.topDocFreqTokens(topTokensK),
    "q_langid_chunks" -> OraclesExt.langIdChunks(langidChunkTokens),
    "q_corpus_report" -> OraclesExt.corpusReport,
    "q_decontam" -> OraclesExt.decontam(testFraction),
    "q_decontam_frac" ->
      OraclesExt.decontamFrac(testFraction, decontamFracThreshold),
    "q_text_repetition" -> OraclesExt.textRepetition,
    "q_text_lm_score" -> OraclesExt.lmCrossEntropy,
    "q_text_entropy" -> OraclesExt.tokenEntropy,
    "q_pmi_bigrams" -> OraclesExt.pmiBigrams(pmiMinCount, pmiK),
    "q_vocab_growth" -> OraclesExt.vocabGrowth,
    "q_text_lm2_score" -> OraclesExt.lm2CrossEntropy,
    "q_score_calibrate" -> OraclesExt.scoreCalibrate,
    "q_shard" -> OraclesExt.shard(shardCount),
    "q_shuffle_runs" -> OraclesExt.shuffleRuns(shardCount),
    "q_text_kn_score" -> OraclesExt.knCrossEntropy,
    "q_js_drift" -> OraclesExt.jsDrift,
    "q_vocab_mass_curve" -> OraclesExt.vocabMassCurve(vocabCuts),
    "q_token_burstiness" -> OraclesExt.tokenBurstiness(burstMinCf, burstK),
    "q_source_ngram_diversity" -> OraclesExt.sourceNgramDiversity(3),
    "q_top_quality_per_lang" -> OraclesExt.topQualityPerLang(topQualityK),
    "q_quantile_gate" -> OraclesExt.quantileGate(quantileKeepNum, quantileKeepDen),
    "q_sample_weighted" -> OraclesExt.sampleWeighted,
    "q_redact" -> OraclesExt.redact,
    "q_vocab_coverage" -> OraclesExt.vocabCoverage(vocabSize),
    "q_curate" -> OraclesExt.curate,
    "q_curate_semantic" -> OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe),
    // the indexed probe must produce the IDENTICAL verdict — same twin
    "q_curate_semantic_indexed" ->
      OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe),
    // the SQ8-screened probe is lossless by construction — same twin
    "q_curate_semantic_screened" ->
      OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe),
    "q_curate_semantic_auto" ->
      OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe),
    "q_sq8_screen_audit" -> OraclesExt.sq8ScreenAudit(
      0.4, adaptiveNlistOracle, semDedupNprobe),
    "q_curate_full" -> OraclesExt.curateFull,
    "q_curation_funnel" -> OraclesExt.curationFunnel,
    "q_curation_by_source" -> OraclesExt.curationBySource,
    "q_bm25" -> OraclesExt.bm25(bm25Terms, bm25K, bm25K1, bm25B),
    "q_bm25_indexed" -> OraclesExt.bm25(bm25Terms, bm25K, bm25K1, bm25B),
    "q_hybrid_search" -> OraclesExt.hybridRerank(bm25Terms,
      hybridQueryVecId, hybridCandidateK, hybridK, bm25K1, bm25B),
    "q_events_hourly" -> OraclesExt.eventsHourly,
    "q_events_json" ->
      """SELECT json_extract(props, '$.k')::BIGINT // 10 AS k_bucket,
        |  count(*)::BIGINT AS n_events,
        |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    // q_csv_source / q_json_source run on text-staged copies of the
    // dims; the oracles run on the parquet ORIGINALS — hash equality
    // IS the lossless-round-trip proof.
    "q_csv_source" ->
      """SELECT r_name, count(*)::BIGINT AS n_nations,
        |  min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_json_source" ->
      """SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
        |  round(cast(sum(cast(s_acctbal AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_acctbal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // q_csv_roundtrip reads a CSV the engine's own sink WROTE; the
    // oracle aggregates the parquet original — hash equality proves
    // the write+read pair lossless end to end.
    "q_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |  round(cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_acctbal,
        |  min(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_brand_revenue" ->
      """SELECT p_brand, count(*)::BIGINT AS n_items,
        |  count(DISTINCT s_suppkey)::BIGINT AS n_suppliers,
        |  round(cast(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 5) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_events_salted_agg" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_sessions" -> OraclesExt.eventsSessions,
    "q_events_asof" -> OraclesExt.eventsAsof,
    "q_events_rolling" -> OraclesExt.eventsRolling(rollingDays),
    "q_events_gapfill" -> OraclesExt.eventsGapFill,
    "q_events_hopping" -> OraclesExt.eventsHopping,
    "q_events_anomaly" -> OraclesExt.eventsAnomaly(
      anomalyWindowDays, anomalyK, anomalyMinDays),
    "q_group_quantiles" -> OraclesExt.groupQuantiles(quantilePs),
    "q_weighted_quantiles" -> OraclesExt.weightedQuantiles(quantilePs),
    "q_quantile_rollup" -> OraclesExt.quantileRollup(quantilePs, rollupDaysPerBucket),
    "q_bloom_dedup" -> OraclesExt.bloomDedup(testFraction, bloomBitsM, bloomK),
    "q_kmv_rollup" -> OraclesExt.kmvRollup(kmvK),
    // self-validation gates for the three otherwise-oracle-less
    // approximate/codec paths: exact facts recomputed here, codec and
    // sketch invariants expected as literal trues (a false boolean on
    // the Spark side fails the hash).
    "q_sketch_rollup_check" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        |  count(DISTINCT user_id)::BIGINT AS n_distinct_users,
        |  true AS events_exact, true AS hll_within_5pct,
        |  true AS merge_within_1pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_compression_check" ->
      """SELECT count(*)::BIGINT AS n_docs,
        |  sum(strlen(text))::BIGINT AS sum_byte_len,
        |  count(*)::BIGINT AS n_roundtrip_ok,
        |  count(*)::BIGINT AS n_len_bounded
        |FROM documents""".stripMargin,
    // time-travel read ≡ relational reconstruction of every version:
    // s0 = init (keys ≡ 0 mod 4), s1 = s0 ∪ append (≡ 1), s2 = merge
    // (delete ≡ 0 mod 8, double price ≡ 4 mod 8, insert ≡ 2 mod 4),
    // s3 = compaction (content-identical to s2, rows_added 0).
    "q_table_history" -> tableHistoryOracleSql,
    // the TEXT surface must reproduce the API surface's states
    // exactly — same oracle, by construction (VERDICT r14 task 6)
    "q_table_history_sql" -> tableHistoryOracleSql,
    // policy-determined op sequence (compact fires exactly when live
    // files would reach 3) + content preservation
    "q_table_compaction" ->
      """WITH hist(version, op, n_files_added, n_files_removed) AS (
        |  VALUES (0,'init',1,0),(1,'append',1,0),(2,'append',1,0),
        |         (3,'compact',1,3),(4,'append',1,0)),
        |fin AS (
        |  SELECT count(*)::BIGINT AS n_rows_final,
        |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |      AS sum_price_final
        |  FROM orders)
        |SELECT version, op, n_files_added, n_files_removed,
        |  n_rows_final, sum_price_final
        |FROM hist CROSS JOIN fin ORDER BY version""".stripMargin,
    // the merged state, reconstructed with explicit clause algebra:
    // survivors (no source match) ∪ updates (matched, m<>0, partial
    // SET keeps the TARGET custkey) ∪ inserts (unmatched, m<>9)
    "q_merge_sql" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |src AS (
        |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |         o_totalprice * 2 AS o_totalprice, o_orderkey % 16 AS m
        |  FROM orders WHERE o_orderkey % 16 IN (0, 1, 4, 9)),
        |merged AS (
        |  SELECT b.o_orderkey, b.o_custkey, b.o_totalprice
        |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL
        |  UNION ALL
        |  SELECT b.o_orderkey, b.o_custkey, s.o_totalprice
        |  FROM base b JOIN src s ON b.o_orderkey = s.o_orderkey
        |  WHERE s.m <> 0
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s LEFT JOIN base b ON b.o_orderkey = s.o_orderkey
        |  WHERE b.o_orderkey IS NULL AND s.m <> 9)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin,
    // the composite-key merged state: matched rows (both key columns
    // agree) take the tripled price; shifted-custkey rows keep their
    // original target row AND add an inserted row
    "q_merge_sql_composite" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey + 5000000, o_totalprice * 3
        |  FROM base WHERE o_orderkey % 8 = 4)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey, o_custkey""".stripMargin,
    // full-sync routing: matched → doubled price; unmatched-by-source
    // with even custkey → deleted; odd custkey → survives unchanged
    "q_merge_sql_bysource" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM base WHERE o_orderkey % 8 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 8 = 4 AND o_custkey % 2 <> 0)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin,
    // evolved-table read: the young column is NULL exactly on the
    // pre-evolution rows, valued exactly on the appended slice
    "q_tablelog_evolve" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |    AS sum_price,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 1)::BIGINT
        |    AS n_flagged,
        |  (SELECT sum(o_orderkey % 7) FROM orders
        |   WHERE o_orderkey % 4 = 1)::BIGINT AS sum_flag
        |FROM orders WHERE o_orderkey % 4 <= 1""".stripMargin,
    // content of the selective read over the range-sliced table,
    // PLUS the pruning facts: the predicate (max/8) falls inside the
    // first of four quarter-range files, so exactly 1 of 4 live
    // files may be scanned — pinned as literals
    "q_tablelog_skipping" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |    AS sum_price,
        |  1 AS n_files_scanned, 4 AS n_files_live
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 8""".stripMargin,
    "q_profile_approx_check" -> lineitemNumeric.sorted.map { c =>
      s"""SELECT '$c' AS col_name, count($c)::BIGINT AS n_rows,
         |  count(DISTINCT cast($c AS DOUBLE))::BIGINT AS n_distinct,
         |  true AS approx_distinct_ok, true AS median_in_range
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_kmv_intersect" -> OraclesExt.kmvPeriodOverlap(kmvK, kmvSplitDate),
    "q_frame_plan" -> OraclesExt.frameSamplePlan(frameIntervalMs,
      frameMsPerByte),
    "q_cms_rollup" -> OraclesExt.cmsRollup(cmsDepth, cmsWidth, cmsProbeMax),
    "q_events_funnel" -> OraclesExt.eventsFunnel(funnelStageNames),
    "q_topk_per_nation" -> OraclesExt.topkPerNation,
    "q_heavy_hitters" -> OraclesExt.heavyHitters(hhCapacity),
    "q_gini_revenue" -> OraclesExt.giniRevenue,
    "q_benford" -> OraclesExt.benfordOrders,
    "q_cusum" -> OraclesExt.cusumDaily,
    "q_kaplan_meier" -> OraclesExt.kaplanMeier(kmStartType, kmEndType),
    "q_cuped" -> OraclesExt.cuped(cupedSplitTs, abVariants, abSalt),
    "q_k_anonymity" -> OraclesExt.kAnonymity(kAnonK),
    "q_isotonic" -> OraclesExt.isotonicCalibration(dsirTargetLang, isotonicBins),
    "q_ols" -> OraclesExt.olsLineitem,
    "q_skipping" -> OraclesExt.skippingReport(skipFiles, skipProbes),
    "q_logrank" -> OraclesExt.logRank(kmStartType, kmEndType, abSalt, 0.5),
    "q_did" -> OraclesExt.diffInDiff(cupedSplitTs, abSalt, 0.5),
    "q_ab_power" -> OraclesExt.abPower(abVariants, abSalt),
    "q_funnel_latency" -> OraclesExt.funnelLatency(funnelStageNames, quantilePs),
    "q_theil_sen" -> OraclesExt.theilSen,
    "q_communities" -> OraclesExt.labelPropagation(lpaIters),
    "q_seasonal_dow" -> OraclesExt.seasonalDow,
    "q_acf_daily" -> OraclesExt.acfDaily(acfMaxLag),
    "q_conformal" ->
      OraclesExt.conformalOls(conformalCovNum, conformalCovDen),
    "q_linkage_score" -> OraclesExt.linkageScores(linkageFields,
      snmWindow, snmBlockLen, 9, 10, "3.0", "0.0"),
    "q_ppr" ->
      OraclesExt.personalizedPageRank(pprSeedBrand, pageRankIters),
    "q_incremental_agg" -> OraclesExt.incrementalAgg,
    "q_knn_binary" -> OraclesExt.knnBinary(10, sq8Rerank),
    "q_hard_negatives" ->
      OraclesExt.hardNegatives(10, hardNegFloor, hardNegCeiling),
    "q_mmr_rerank" ->
      OraclesExt.mmrRerank(mmrQueryIds, mmrCandidateK, mmrSelectK),
    "q_ewma_daily" -> OraclesExt.ewmaDaily,
    "q_linkage_em" ->
      OraclesExt.linkageEm(linkageFields, snmWindow, snmBlockLen,
        linkageEmIters),
    "q_ranking_quality" -> OraclesExt.rankingQuality(10, 16, 2),
    "q_mink_prob" -> OraclesExt.minKProb(20),
    "q_fleiss_kappa" -> OraclesExt.fleissKappa(langidChunkTokens),
    "q_prf_expand" ->
      OraclesExt.prfExpand(bm25Terms, prfFbDocs, prfFbTerms, bm25K1, bm25B),
    "q_golden_records" -> OraclesExt.goldenRecords(linkageFields,
      snmWindow, snmBlockLen, 9, 10, "3.0", "0.0"),
    "q_bloom_skip_lookup" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(text) = (SELECT md5(text) FROM documents
         |  WHERE doc_id = $bloomSkipProbeDoc)
         |ORDER BY doc_id""".stripMargin)
}
