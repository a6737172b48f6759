package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Common._

/** SQL passthrough: TPC-H-shaped statements run as text through
  * `spark.sql` (the `query`/`file` commands, aws-athena.sh:140,155),
  * each its own oracle, plus a few relational DataFrame shapes.
  */
object SqlQueries extends QueryFamily {

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

  /** A passthrough query: the same text runs in Spark and is its own
    * DuckDB oracle.
    */
  private def passthrough(name: String, sql: String): QueryDef =
    QueryDef(name, withTables(_.sql(sql)), Some(sql))

  val defs: Seq[QueryDef] = Seq(
    // §3.1 — arbitrary-SQL passthrough (query/file commands).
    passthrough("q_pricing_summary", pricingSummarySql),
    passthrough("q_top_orders", topOrdersSql),
    passthrough("q_semi_anti", semiAntiSql),
    passthrough("q_not_in_null", notInNullSql),
    passthrough("q_window_analytics", windowAnalyticsSql),
    passthrough("q_string_funcs", stringFuncsSql),
    passthrough("q_datetime_funcs", datetimeFuncsSql),
    passthrough("q_set_ops", setOpsSql),
    passthrough("q_revenue_by_nation", revenueByNationSql),
    passthrough("q_market_share", marketShareSql),
    passthrough("q_top_supplier", topSupplierSql),
    passthrough("q_shipping_priority", shippingPrioritySql),
    passthrough("q_forecast_revenue", forecastRevenueSql),
    passthrough("q_rollup_pricing", rollupPricingSql),
    passthrough("q_local_supplier_volume", localSupplierVolumeSql),
    passthrough("q_cube_pricing", cubePricingSql),
    passthrough("q_grouping_sets", groupingSetsPricingSql),
    passthrough("q_window_ranks", windowRanksSql),
    passthrough("q_correlated_max", correlatedMaxSql),
    passthrough("q_order_count_dist", orderCountDistSql),
    passthrough("q_large_orders", largeOrdersSql),
    passthrough("q_nation_trade", nationTradeSql),
    passthrough("q_promo_share", promoShareSql),
    passthrough("q_returned_items", returnedItemsSql),
    passthrough("q_chisq_lang_source", chisqSql),
    passthrough("q_mi_lang_source", miSql),
    // §2.4 — unpivot (wide→long, the inverse of the profiler's pivot)
    // rolled up per metric: the map-side Expand never shuffles 4× the
    // table, partial aggregation collapses it to one row per
    // (partition, metric) first.
    QueryDef("q_unpivot", withTables { s =>
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
    }, Some(OraclesExt.unpivotLineitem)),
    // §2.4 — conditional aggregation (FILTER-clause shape): the
    // source × language mix matrix every corpus dashboard starts
    // with; one map-side-combined shuffle, no pivot relation.
    QueryDef("q_lang_source_matrix", withTables { s =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val d = s.table("documents")
      d.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          langs.map(l =>
            count(when(col("lang") === l, 1)).as(s"n_$l")) :+
            count(when(!col("lang").isin(langs: _*), 1)).as("n_other"): _*)
        .orderBy("source")
    }, Some(OraclesExt.langSourceMatrix)),
    // §2.3 joins — fact-to-dimension star join over part + supplier
    // (both broadcast), decimal-exact revenue per brand.
    QueryDef("q_brand_revenue", withTables { s =>
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
    }, Some("""SELECT p_brand, count(*)::BIGINT AS n_items,
        |  count(DISTINCT s_suppkey)::BIGINT AS n_suppliers,
        |  round(cast(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 5) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    // §2.5 window functions — join + per-group top-k rank.
    QueryDef("q_topk_per_nation", withTables { s =>
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
    }, Some(OraclesExt.topkPerNation)))
}
