package graft.profile

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.catalog.{InfoSchema, Tables, TrinoTypes}

/** Numeric-column table profiler — the reference's flagship pipeline.
  *
  * Re-implements the `query_builder` codegen of
  * /root/reference/aws-athena.sh:64-125: for every column whose
  * `data_type` matches the numeric regex (aws-athena.sh:68), compute 8
  * statistics labeled `1. count` … `8. sum` (aws-athena.sh:81-100),
  * assemble the long `(column_name, agg_type, result)` relation
  * (UNION ALL, aws-athena.sh:80-110), pivot it wide keyed by `agg_type`
  * (`map_agg` + `kv['col']`, aws-athena.sh:112-122), and order by
  * `agg_type` (aws-athena.sh:120 — the `1.`…`8.` label prefixes exist
  * precisely to make this lexicographic sort meaningful).
  *
  * == Scale design ==
  * The reference's generated plan is 8×N *independent scalar-subquery
  * scans* of the target table (64 scans for lineitem). Here ALL 8×N
  * statistics come from TWO column-pruned scans:
  *
  *  1. the six declarative stats per column in one codegen'd
  *     `df.agg(...)` with map-side partial aggregation — only 6×N
  *     numbers reach the final stage;
  *  2. exact `count_distinct` AND exact `median` for all N columns
  *     from one shared value-counts relation
  *     ([[exactLong]]): groupBy (column, value) with
  *     map-side combine, then a tiny per-column roll-up and an N-way
  *     parallel window cumsum over DISTINCT values. No operator ever
  *     buffers raw rows in one task (Spark's own `percentile` and the
  *     Expand-based multi-distinct both do, which is what breaks at
  *     100 TB).
  *
  * Neither path pivots in Spark: the exact path finishes on the driver
  * (its N per-column rows become the 8×N long relation and the wide
  * pivot as LocalRelations), the sketch path explodes per-statistic
  * struct arrays over its 1-row aggregate. For the 100 TB fast path,
  * [[approxProfile]] swaps distinct/median for `approx_count_distinct`
  * / `percentile_approx` sketches (constant memory, associative
  * merge) when ±ε is acceptable.
  *
  * Local-bench caveat: the driver's parquet files contain a single
  * row group, so a scan's parallelism is 1 task per file no matter
  * the split size. Both paths therefore repartition CONDITIONALLY
  * (only when the scan is under-parallel) — which is safe only
  * because neither path contains any order-dependent double
  * accumulation: no `avg`/`stddev_samp` anywhere; every mean/sum/std
  * is derived from exact decimal sums (associative, so bit-identical
  * under any partitioning — see [[exactLong]] and `baseStats`).
  */
object TableProfiler {

  /** Stat labels, exactly as generated at aws-athena.sh:81-100. */
  val aggLabels: Seq[String] = Seq(
    "1. count", "2. count_distinct", "3. mean", "4. std",
    "5. min", "6. median", "7. max", "8. sum")

  /** Columns that survive the numeric-type filter (aws-athena.sh:68),
    * in schema (ordinal) order — the reference preserves
    * information_schema ordinal order through codegen.
    */
  def numericColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq
      .filter(f => TrinoTypes.isNumeric(f.dataType))
      .map(_.name)

  /** Range-split exact decimal sum, shared by [[baseStats]] and
    * [[exactLong]]: the two legs of `Σ decimal(v)` with the same
    * 10⁻⁶ quantization but regime-matched precision.
    *
    *  - compact leg, |v| < 10¹²: decimal(18,6) — 18 digits is
    *    `Decimal.MAX_LONG_DIGITS`, so the per-row cast stays on
    *    Spark's compact-long path (no per-row BigDecimal — VERDICT
    *    r12 measured the unconditional (27,6) widening at ~2× on the
    *    long profile).
    *  - wide leg, 10¹² ≤ |v| < 10²¹: decimal(27,6) (exact-multiply
    *    bound against the (10,0) counts), entered only by wide
    *    surrogate-key-class columns.
    *  - past 10²¹ (and NaN/±Inf): loud `raise_error` — a silently
    *    dropped value would mean a wrong mean (ADVICE r11).
    *
    * A NULL value falls through BOTH legs as NULL and is skipped by
    * `sum` — the r12 guard raised on NULL because the CASE condition
    * evaluated to NULL and fell into the error branch (ADVICE r12);
    * here the wide leg tests `isNull` explicitly before the error arm.
    * Every non-null value lands in exactly one leg and decimal
    * addition is exact, so compactLeg + wideLeg ≡ the single wide sum
    * bit-for-bit.
    *
    * @param cmpV double-valued copy of the value for the range tests
    * @param v    the value actually quantized (kept distinct so
    *             [[baseStats]] preserves its historical behavior of
    *             casting the ORIGINAL column to decimal)
    */
  private def legCompact(cmpV: Column, v: Column): Column =
    when(abs(cmpV) < lit(1e12), v.cast(DecimalType(18, 6)))
  private def legWide(cmpV: Column, v: Column): Column =
    when(cmpV.isNull || abs(cmpV) < lit(1e12),
        lit(null).cast(DecimalType(27, 6)))
      .otherwise(when(abs(cmpV) < lit(1e21), v.cast(DecimalType(27, 6)))
        .otherwise(raise_error(concat(
          lit("profiler value envelope exceeded: |value| >= 1e21 " +
            "overflows the exact decimal(27,6) sum (got "),
          cmpV.cast(StringType), lit(")")))))

  /** `10·s1 / b` rounded to 5 decimals, where `s1` is an exact
    * decimal(38,6) sum: the mean for `b = 10·n`, the sum for `b = 10`.
    * The quantized sums land exactly on
    * .5×10⁻⁵ rounding ties, where double round() diverges across
    * engines (see TextStats.decAvg5), so this rounds with exact integer
    * HALF-AWAY-FROM-ZERO instead, over su6 = the scale-6 integer units
    * of `s1` as decimal(38,0), NOT Long: key-column sums at large scale
    * exceed Long/10⁶ (the sf1 sweep threw on the cast).
    *
    * HALF_UP(|su6| / b) = (|su6|·2 + b) div (2b), computed ENTIRELY in
    * exact decimal arithmetic. The earlier double-division form broke
    * at quotients ≥ 2⁵² (the sf0.1 wide-key mean landed on an exact
    * k.5·10⁻⁵ tie whose 9·10²² numerator rounds 1 ulp high as a double
    * — DuckDB's floor saw k+1, Spark's x−0.5 trick saw k; BOTH double
    * pipelines are unreliable there, and they disagreed). pmod
    * subtracts the exact remainder, so the decimal division is
    * integer-valued and exact (quotient < 10²⁶ under the 10²¹ value
    * envelope — far inside decimal(38,6)); the one double conversion
    * happens on that exact integer, which both engines round
    * identically by IEEE nearest. Shared by [[baseStats]] and
    * [[exactLong]], which ProfilerSpec holds `==` to each other.
    */
  private def round5(s1: Column, b: Column): Column = {
    val su6 = (s1 * lit(1000000L)).cast(DecimalType(38, 0))
    val x = (abs(su6) * 2 + b).cast(DecimalType(38, 0))
    val y = (b * 2).cast(DecimalType(38, 0))
    when(s1 < 0, lit(-1.0)).otherwise(lit(1.0)) *
      ((x - pmod(x, y)) / y).cast(DoubleType) / lit(100000.0)
  }

  /** The six non-sketch stats, ALL partition-independent — no
    * order-dependent double accumulation (`avg`/`stddev_samp` are
    * banned here for the same reason as in the exact path, see the
    * object scaladoc): mean and sum reuse the exact decimal sum and
    * the integer HALF-AWAY rounding ([[round5]]) of [[exactLong]]
    * (bit-identical to the exact profile, which ProfilerSpec asserts
    * with `==`), and
    * std is a single-pass variance over decimal-quantized Σx and Σx²
    * — deterministic under ANY partitioning; for ill-conditioned
    * columns (|mean| ≫ σ, where the single-pass cancellation loses
    * digits) the exact two-pass profile is the reference answer.
    */
  private def baseStats(cols: Seq[String]): Seq[Column] =
    cols.zipWithIndex.flatMap { case (c, i) =>
      val x = col(c)
      val n = count(x)
      // range-split exact decimal sum (see the leg scaladoc): the two
      // leg sums recombine exactly, and the ProfilerSpec `==`
      // assertion against the exact path holds over the whole
      // envelope. All-null column: both legs null → s1 null.
      val xd = x.cast(DoubleType)
      val s1c = sum(legCompact(xd, x))
      val s1w = sum(legWide(xd, x))
      def dec386(cc: Column): Column = cc.cast(DecimalType(38, 6))
      val s1 = when(s1c.isNull && s1w.isNull,
          lit(null).cast(DecimalType(38, 6)))
        .otherwise(coalesce(dec386(s1c), dec386(lit(0))) +
          coalesce(dec386(s1w), dec386(lit(0))))
      // x² quantized at 10⁻⁶ then summed exactly; decimal(38,6) keeps
      // 32 integer digits of headroom before the sum can overflow
      val s2 = sum((x * x).cast(DecimalType(38, 6)))
      val m = s1.cast(DoubleType) / n
      val variance = (s2.cast(DoubleType) - (m * m) * n) / (n - 1)
      Seq(
        n.cast(DoubleType).as(s"c${i}_1"),
        round5(s1, n * lit(10L)).as(s"c${i}_3"),
        when(n > 1, round(sqrt(greatest(variance, lit(0.0))), 5))
          .as(s"c${i}_4"),
        round(min(x).cast(DoubleType), 5).as(s"c${i}_5"),
        round(max(x).cast(DoubleType), 5).as(s"c${i}_7"),
        round5(s1, lit(10L)).as(s"c${i}_8"))
    }

  /** One row with all 8×N stats as columns `c<i>_<j>` (sketch-based
    * distinct/median — the approxProfile path). ALL 8×N aggregates —
    * the six declarative base stats plus the sketch distinct/median —
    * are ordinary associative aggregates, so they belong in ONE
    * `df.agg(...)`: one column-pruned scan, one partial/final
    * aggregation, no crossJoin reassembly (PlanHygieneSpec asserts
    * the single FileScan).
    */
  private def aggRow(df: DataFrame, cols: Seq[String],
      distinctAgg: String => Column, medianAgg: String => Column): DataFrame = {
    // same conditional spread as exactLong: a few-row-group input
    // would run every sketch update in ONE scan task (measured 4× the
    // whole query at sf0.1). The sketch merges are associative (HLL
    // registers merge bitwise; KLL/GK summary merge is the documented
    // approximate path), so parallel partials are safe here.
    val spreadDf =
      if (!graft.ext.Dedup.underParallel(df)) df
      else df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val aggs = baseStats(cols) ++
      cols.zipWithIndex.map { case (c, i) => distinctAgg(c).as(s"c${i}_2") } ++
      cols.zipWithIndex.map { case (c, i) => medianAgg(c).as(s"c${i}_6") }
    spreadDf.agg(aggs.head, aggs.tail: _*)
  }

  /** ALL 8 exact statistics for all N columns from ONE shared
    * value-counts relation — one raw-data scan, fully distributed,
    * and — crucially — deterministic under ARBITRARY partitioning:
    *
    *   unpivot (ci, value) → groupBy(ci, value) count   [one shuffle,
    *     map-side combined, key space = Σ distinct values; the result
    *     is PERSISTED once and read by both jobs below]
    *   count / count_distinct / min / max / sum / mean  — one roll-up
    *     over vc, collected (job 1) and fed back to job 2 as an N-row
    *     literal relation;
    *     the sum is the range-split exact decimal Σ leg(v)·cnt of
    *     [[legCompact]]/[[legWide]] (associative →
    *     partitioning-independent); mean = Σ/n in one double division
    *   std  — TWO-PASS: Σ decimal((v−m)²)·cnt around the exact mean
    *     (range-adaptive scale — see the pass-2 note), then
    *     sqrt(S₂/(n−1)). No Welford merge (whose result
    *     depends on partition merge order) and no single-pass
    *     Σx²−(Σx)²/n cancellation
    *   median  — window cumsum over value order (N-way parallel sort
    *     of DISTINCT values, never raw rows), interpolated exactly as
    *     Spark's `Percentile.getPercentile`
    *   σ and median come from ONE collected pass over vc (job 2); the
    *     final expressions then run on the driver over the N collected
    *     rows (see the body)
    *
    * Why not the obvious built-ins: `countDistinct`×N plans as
    * Expand×(N+1) with an (N+1)-column distinct shuffle; `percentile`
    * buffers EVERY value per column in one final task (a 2 s serial
    * merge at sf0.1 and a guaranteed OOM at 100 TB); and
    * `avg`/`stddev_samp` accumulate doubles in partition order, so
    * their 5th decimal can flip under re-partitioning — this pipeline
    * has no order-dependent float accumulation anywhere, which is what
    * lets [[profileLong]] repartition for parallelism.
    *
    * Semantics notes (mirrored in the oracle, Oracles.duckStats):
    * values compare as doubles (exact for doubles and for integers
    * below 2⁵³); sum/mean quantize each value at 10⁻⁶ (the
    * range-split decimal sum contract — |value| < 10²¹, loud-guarded
    * past it); per-(column,value) row counts are
    * assumed < 10¹⁰ (decimal(10,0) — far beyond any real corpus; a
    * hotter single value would need a wider count decimal).
    */
  private def exactLong(df: DataFrame, cols: Seq[String],
      medianWindowMax: Long): DataFrame = {
    // ci is an INT key: the value-counts relation is table-sized for
    // near-unique columns, and hashing/shuffling an int beats a
    // string at every exchange this plan reuses
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"$i, cast(`$c` as double)" }.mkString(", ")
    // spread first (Dedup.underParallel): inputs with few row groups
    // would otherwise run the whole stack+shuffle-write in one scan
    // task; everything downstream is partitioning-independent, so this
    // is safe (unlike the old avg/stddev_samp subtree)
    val spark = df.sparkSession
    val spreadDf =
      if (!graft.ext.Dedup.underParallel(df)) df
      else df.repartition(spark.sparkContext.defaultParallelism)
    // The value-counts relation is SHARED (persist, executor block
    // store, memory-then-disk): its two whole-job consumers — the stats
    // collect and the σ+median pass below — would otherwise each
    // recompute the raw scan + stack + shuffle (the dominant cost of
    // the profile, and at 100 TB a full second pass over the table).
    // Storing vc is strictly cheaper than recomputing it: it is at most
    // table-sized (distinct (column, value) pairs), the same size class
    // as the shuffle files the recompute would write anyway. Consumers
    // stay partitioning-independent, so the cut changes no values.
    //
    // LAZY (Share.lazily), with no populating job of its own: the stats
    // collect is vc's only first consumer, a plain aggregation with no
    // concurrent broadcast subtree, so nothing races on an unpopulated
    // cache (the race that once made the sharded median's broadcast
    // subtrees rescan lineitem up to 3×); it populates every block and
    // the second pass reads them. The blocks live until the Share.scope
    // that [[profileLong]] opens closes, before the profile returns.
    val vc = graft.exec.Share.lazily(spreadDf
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS (ci, v)")
      .filter(col("v").isNotNull)
      .groupBy("ci", "v").agg(count(lit(1)).cast(DecimalType(10, 0)).as("cnt")))
    // ALL per-column single-pass exact stats — n, ndist, min, max and
    // the range-split exact decimal sum legs (see [[legCompact]] /
    // [[legWide]]: |v| < 10¹² sums compact decimal(18,6), wider values
    // sum decimal(27,6) with the loud 10²¹ raise_error envelope of
    // ADVICE r11) — are evaluated ONCE, as a single cheap reduce over
    // vc, and land on the driver. The collected rows drive the σ
    // regimes, the median ranks and the median REGIME decision — so
    // every switch is a pure function of the data, chosen before the
    // second pass is planned.
    val statRows = vc.groupBy("ci").agg(
      sum(col("cnt").cast(LongType)).as("n"),
      count(lit(1)).cast(DoubleType).as("ndist"),
      min("v").as("minv"),
      max("v").as("maxv"),
      sum(legCompact(col("v"), col("v")) * col("cnt")).as("s1c"),
      sum(legWide(col("v"), col("v")) * col("cnt")).as("s1w")).collect()
    // recombine the two sum legs exactly on the driver (decimal
    // addition; each value landed in exactly one leg). java
    // BigDecimal.add at scale 6 is the same exact arithmetic Spark's
    // Decimal would run. lo/hi are the two global 0-based median ranks
    // per column — pure functions of n.
    val statSchema = StructType(Seq(
      StructField("ci", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("ndist", DoubleType, nullable = false),
      StructField("minv", DoubleType, nullable = true),
      StructField("maxv", DoubleType, nullable = true),
      StructField("s1", DecimalType(38, 6), nullable = true),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false)))
    val zero6 = java.math.BigDecimal.ZERO.setScale(6)
    val litRows: Seq[Row] = statRows.toSeq.map { r =>
      val s1c = r.getDecimal(r.fieldIndex("s1c"))
      val s1w = r.getDecimal(r.fieldIndex("s1w"))
      val s1 =
        if (s1c == null && s1w == null) null
        else Option(s1c).getOrElse(zero6).add(Option(s1w).getOrElse(zero6))
      val p = 0.5 * (r.getLong(r.fieldIndex("n")) - 1).toDouble
      Row(
        r.getInt(r.fieldIndex("ci")), r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("ndist")),
        r.getDouble(r.fieldIndex("minv")), r.getDouble(r.fieldIndex("maxv")),
        s1, math.floor(p).toLong, math.ceil(p).toLong)
    }
    val basicLit = spark.createDataFrame(litRows.asJava, statSchema)
      .withColumn("m", col("s1").cast(DoubleType) / col("n"))
    // pass 2 for stddev: exact decimal sum of (v-m)^2 around the mean.
    // Precision 27 everywhere is the exact-multiply bound: (27,s)×
    // (10,0) has ideal precision 38, so the ·cnt product NEVER
    // triggers Spark's precision-loss scale reduction — every branch
    // stays exact, associative, partition-order independent.
    // THREE σ-quantization regimes (ADVICE r11 found the coarse
    // branch's silent-null edge at range ≈ 3·10¹³): per column,
    // selected by its exact range — fine ≤ 10⁷ quantizes each squared
    // deviation at 10⁻¹²; coarse ≤ 3·10¹³ at 10⁰ (dd ≤ range² =
    // 9·10²⁶ fits decimal(27,0) BY CONSTRUCTION — no guard needed);
    // ultra beyond quantizes dd/10¹² at 10⁰ and scales the sum back
    // by 10¹² (absolute error ≤ 0.5·10¹²·ndist against a Σ ≥
    // n·range²/4 ≫ 10²⁶ whenever ultra is selected — relative <
    // 10⁻¹⁴, invisible at the display). The ultra edge (dd ≥ 10³⁹,
    // range ≳ 3·10¹⁹) FAILS LOUDLY — past the widened 10²¹ value
    // envelope anyway. The regime of each column is DECIDED ON THE
    // DRIVER from the collected exact min/max (NaN/±Inf can't reach
    // here — the wide sum leg raised on them in the stats job), so a
    // single-regime profile — the common case — emits ONE
    // unconditional σ sum with no per-row regime dispatch.
    val range = statRows.map { r =>
      r.getInt(r.fieldIndex("ci")) ->
        (r.getDouble(r.fieldIndex("maxv")) - r.getDouble(r.fieldIndex("minv")))
    }.toMap
    val fineCis = range.collect { case (ci, rg) if !(rg > 1e7) => ci }.toSeq
    val coarseCis =
      range.collect { case (ci, rg) if rg > 1e7 && !(rg > 3e13) => ci }.toSeq
    val ultraCis = range.collect { case (ci, rg) if rg > 3e13 => ci }.toSeq
    def gated(cis: Seq[Int], expr: Column): Column =
      if (cis.isEmpty) lit(null)
      else if (range.size == cis.size) expr
      else when(col("ci").isInCollection(cis), expr).otherwise(lit(null))
    val aux = broadcast(basicLit.select("ci", "m", "lo", "hi"))
    val dd = (col("v") - col("m")) * (col("v") - col("m"))
    val devs = vc.join(aux, "ci")
      .withColumn("d2f",
        gated(fineCis, dd.cast(DecimalType(27, 12))).cast(DecimalType(27, 12))
          * col("cnt"))
      .withColumn("d2c",
        gated(coarseCis, dd.cast(DecimalType(27, 0))).cast(DecimalType(27, 0))
          * col("cnt"))
      .withColumn("d2u",
        gated(ultraCis, when(dd < lit(1e39),
            (dd / lit(1e12)).cast(DecimalType(27, 0)))
          .otherwise(raise_error(lit(
            "profiler range envelope exceeded: squared deviation >= 1e39 " +
              "(column range >= ~3e19) overflows the ultra decimal(27,0) " +
              "quantization")))).cast(DecimalType(27, 0)) * col("cnt"))
    val sigma = Seq(sum("d2f").as("s2f"), sum("d2c").as("s2c"), sum("d2u").as("s2u"))
    // The median values at ranks lo/hi. TWO REGIMES, switched on the
    // collected max-per-column distinct count (data-derived, like the σ
    // regimes above — never a local[32] constant):
    //  - window regime (max ndist ≤ medianWindowMax, by default
    //    MedianWindowMaxDistinct = 4·10⁶):
    //    the σ sums and both median values in ONE pass — a
    //    partitionBy(ci) cumsum over value order feeding a groupBy(ci)
    //    on the same partitioning (one exchange), where the value at
    //    rank q is the smallest v whose inclusive cumsum exceeds q.
    //    Each task sorts at most maxNdist DISTINCT values (bounded by
    //    the gate, ~100 MB at the default);
    //  - sharded regime (beyond the gate — near-unique columns at
    //    100 TB have ~10¹⁰ distinct values, which no single task may
    //    sort): the σ aggregate joined with the range-sharded
    //    position-targeted lookup (graft.ext.Quantiles.valuesAtPositions).
    // Both regimes return the value at the SAME exact global rank —
    // shard totals are exact, so the sharded lookup finds precisely
    // the full cumsum's rows — and the interpolation below is shared,
    // so the median is bit-identical under either regime (ProfilerSpec
    // pins both against each other).
    val maxNdist =
      if (statRows.isEmpty) 0.0
      else statRows.map(r => r.getDouble(r.fieldIndex("ndist"))).max
    val pass =
      if (maxNdist <= medianWindowMax.toDouble) {
        val w = Window.partitionBy("ci").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        devs.withColumn("__cum", sum(col("cnt").cast(LongType)).over(w))
          .groupBy("ci").agg(sigma.head, sigma.tail :+
            min(when(col("__cum") > col("lo"), col("v"))).as("lowv") :+
            min(when(col("__cum") > col("hi"), col("v"))).as("highv"): _*)
      } else {
        val wanted = basicLit.select(col("ci"),
          explode(array_distinct(array(col("lo"), col("hi")))).as("__pos"))
        val med = graft.ext.Quantiles
          .valuesAtPositions(vc, Seq("ci"), "v", "cnt", wanted)
          .join(aux, "ci")
          .groupBy("ci").agg(
            max(when(col("__pos") === col("lo"), col("v"))).as("lowv"),
            max(when(col("__pos") === col("hi"), col("v"))).as("highv"))
        devs.groupBy("ci").agg(sigma.head, sigma.tail: _*).join(med, "ci")
      }
    // (ci, s2f, s2c, s2u, lowv, highv) in both regimes
    val passByCi = pass.collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    // The rest runs on the driver: the N per-column rows (one per
    // numeric column — columns with zero non-null values have no vc
    // rows and get count/count_distinct 0, other stats null, the
    // reference's observable empty semantics) become a LocalRelation,
    // and the final expressions below are a select over it, which
    // ConvertToLocalRelation evaluates during optimization: no job and
    // no generated class.
    val passFields = pass.schema.fields.toSeq.tail.map(_.copy(nullable = true))
    val perCiSchema = StructType(statSchema.fields.toSeq.take(6)
      .map(f => f.copy(nullable = f.name != "ci")) ++ passFields)
    val statsByCi = litRows.map(r => r.getInt(0) -> r.toSeq.take(6)).toMap
    val perCiRows = cols.indices.map { ci =>
      Row.fromSeq(statsByCi.getOrElse(ci, Seq(ci, 0L, 0.0, null, null, null)) ++
        passByCi.getOrElse(ci, passFields.map(_ => null)))
    }
    // the median, interpolated exactly as Spark's
    // `Percentile.getPercentile`
    val pos = lit(0.5) * (col("n") - 1).cast(DoubleType)
    val lower = floor(pos)
    val higher = ceil(pos)
    val median = round(
      when(lower === higher, col("lowv"))
        .otherwise(col("lowv") * (higher - pos) + col("highv") * (pos - lower)), 5)
    // one result column per label, in aggLabels order
    val results = spark.createDataFrame(perCiRows.asJava, perCiSchema).select(
      col("n").cast(DoubleType),
      col("ndist"),
      round5(col("s1"), col("n") * lit(10L)),
      when(col("n") > 1,
        round(sqrt(coalesce(col("s2f").cast(DoubleType),
          col("s2c").cast(DoubleType),
          col("s2u").cast(DoubleType) * lit(1e12)) / (col("n") - 1)), 5)),
      round(col("minv"), 5),
      median,
      round(col("maxv"), 5),
      round5(col("s1"), lit(10L))).collect()
    // the long (column_name, agg_type, result) relation, ci-major
    val longRows = cols.zip(results).flatMap { case (c, r) =>
      aggLabels.indices.map(j => Row(c, aggLabels(j), r.get(j)))
    }
    spark.createDataFrame(longRows.asJava, longSchema)
  }

  /** The schema of [[profileLong]]. */
  private val longSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = true),
    StructField("agg_type", StringType, nullable = false),
    StructField("result", DoubleType, nullable = true)))

  /** Long-form profile: `(column_name, agg_type, result)` — the shape
    * of the reference's UNION ALL relation (aws-athena.sh:80-110) —
    * computed from one scan ([[exactLong]]), in column ordinal order
    * and [[aggLabels]] order within a column.
    *
    * Semantics of the 8 statistics (see [[exactLong]]
    * for the plan shape):
    *
    *  - count / count_distinct are exact and unrounded
    *    (aws-athena.sh:81-85); the cast to double is lossless below
    *    2^53 rows.
    *  - mean/std/min/median/max/sum display at 5 decimals
    *    (aws-athena.sh:87-100).
    *  - median is EXACT rather than the reference's
    *    `approx_percentile` (aws-athena.sh:96): Trino's t-digest,
    *    Spark's GK sketch and any oracle all disagree on approximate
    *    quantiles, so exactness is the only portable semantics
    *    (SURVEY.md §7.6). The sketch variant lives in
    *    [[approxProfile]].
    *  - sum/mean accumulate in exact decimal: double addition is not
    *    associative, so a shuffle-order-dependent double sum can flip
    *    the 5th decimal at scale; decimal accumulation is exact and
    *    deterministic regardless of partitioning. The sum is
    *    RANGE-SPLIT into two exact legs (see [[legCompact]] /
    *    [[legWide]]): |v| < 10¹² quantizes at decimal(18,6) — 18
    *    digits keeps the per-row cast on Spark's compact-long Decimal
    *    path (VERDICT r12: declaring (27,6) forced per-row BigDecimal
    *    everywhere, ~2× on the long profile) — and wider values at
    *    decimal(27,6) with a loud raise_error guard at the |v| < 10²¹
    *    envelope. Scale 6 out-scales the 5-decimal display rounding.
    *  - std is the two-pass sample standard deviation around the
    *    exact mean (see [[exactLong]]).
    *
    * EAGER contract (ADVICE r13): the call RUNS every Spark job of the
    * profile — the stats collect and the σ+median pass — so the table
    * scan cost and any data-quality raise_error (the 10²¹ envelope)
    * surface AT THE CALL. The value counts both jobs share are
    * persisted inside a [[graft.exec.Share.scope]] of this call's own,
    * released before it returns; the result is a driver-side
    * LocalRelation of 8×N rows that reads nothing else.
    */
  def profileLong(df: DataFrame): DataFrame = profileLong(df, MedianWindowMaxDistinct)

  /** The largest per-column distinct count whose median the window
    * regime sorts in one task (see [[exactLong]]).
    */
  private val MedianWindowMaxDistinct = 4000000L

  /** [[profileLong]] with the median regime's gate as an argument, so a
    * spec can force the sharded regime on a small table.
    */
  private[graft] def profileLong(df: DataFrame, medianWindowMax: Long): DataFrame = {
    val cols = numericColumns(df.schema)
    require(cols.nonEmpty, "no numeric columns to profile")
    graft.exec.Share.scope(df.sparkSession)(exactLong(df, cols, medianWindowMax))
  }

  /** Wide profile: 8 rows (`1. count`…`8. sum`) × (agg_type + one
    * column per numeric column, in ordinal order) — the observable
    * output of the reference's map_agg pivot (aws-athena.sh:112-122).
    */
  def profile(df: DataFrame): DataFrame =
    wide(profileLong(df), numericColumns(df.schema))

  /** The wide pivot of a [[profileLong]] relation whose numeric
    * columns are `cols`, in ordinal order: what
    * `long.groupBy("agg_type").pivot("column_name", cols)
    * .agg(first("result")).orderBy("agg_type")` returns, computed on
    * the driver over the collected ≤ 8×N input rows (a Spark pivot of
    * them would cost two aggregation jobs and a sort per call). One row per
    * distinct agg_type, in Spark's string order; a cell is the first
    * `result` of its (agg_type, column_name), NULL where there is none.
    */
  def wide(long: DataFrame, cols: Seq[String]): DataFrame = {
    val rows = long.select("agg_type", "column_name", "result").collect().toSeq
    val cells = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.head.get(2)).toMap
    val out = rows.map(_.getString(0)).distinct.sorted(sparkStringOrder)
      .map(t => Row.fromSeq(t +: cols.map(c => cells.getOrElse((t, c), null))))
    val resultType = long.schema("result").dataType
    long.sparkSession.createDataFrame(out.asJava, StructType(
      long.schema("agg_type") +: cols.map(StructField(_, resultType, nullable = true))))
  }

  /** Spark's ascending string sort (`orderBy` on a string column):
    * NULL first, then UTF-8 byte order, which differs from
    * `String.compareTo`'s UTF-16 order above U+FFFF. */
  private[graft] val sparkStringOrder: Ordering[String] =
    Ordering.by[String, Option[UTF8String]](s => Option(s).map(UTF8String.fromString))

  /** Profile a table by name, schema sourced from the catalog (the
    * reference reads information_schema, not the data, to decide what
    * to profile — aws-athena.sh:175-180).
    */
  def profileTable(spark: SparkSession, name: String): DataFrame =
    profile(Tables.table(spark, name))

  /** Numeric column names for a table according to
    * information_schema.columns + the regex — the exact decision path
    * of the reference (catalog metadata → regex → codegen).
    */
  def numericColumnsFromCatalog(spark: SparkSession, table: String): Seq[String] =
    InfoSchema.rowsFor(spark, table)
      .filter(r => TrinoTypes.isNumeric(r.getString(7)))
      .map(_.getString(3))

  /** 100 TB-path profile: sketch-based count_distinct and median
    * (constant memory per column, associative merge), everything else
    * identical. Not oracle-checked (approximate by construction).
    *
    * The median sketch is [[graft.functions.LogBucketQuantileAgg]]
    * (log-bucket histogram, merge = count addition) rather than
    * `percentile_approx`, whose GK-summary compression depends on
    * partition merge ORDER — with it, `6. median` was the one output
    * in the whole engine that changed under a different
    * `local[k]`; the log-bucket sketch is deterministic under any
    * partitioning AND keeps the relative-error guarantee (α = 0.005).
    */
  def approxProfile(df: DataFrame): DataFrame = {
    val cols = numericColumns(df.schema)
    require(cols.nonEmpty, "no numeric columns to profile")
    val one = aggRow(df, cols,
      c => approx_count_distinct(col(c)).cast(DoubleType),
      c => round(graft.functions.QuantileSketch.logBucketMedian(col(c))
        .cast(DoubleType), 5))
    // Wide 8×N output straight from the one-row aggregate: explode an
    // 8-entry struct array (one struct per statistic row) instead of
    // stack(64) → groupBy → pivot → first. The pivot round-trip
    // planned FOUR extra HashAggregate layers over 64 wide expression
    // columns — on this plan the dominant cost was plan+codegen
    // compilation, not data (measured ~12 s first-run vs ~4 s warm at
    // sf0.1; the explode tail cuts the one-time cost roughly in half).
    def statRow(j: Int, label: String): Column = struct(
      lit(label).as("agg_type") +:
        cols.zipWithIndex.map { case (c, i) => col(s"c${i}_$j").as(c) }: _*)
    val entries = array(aggLabels.zipWithIndex.map {
      case (label, j) => statRow(j + 1, label) }: _*)
    one.select(explode(entries).as("entry"))
      .select(col("entry.agg_type").as("agg_type") +:
        cols.map(c => col(s"entry.`$c`").as(c)): _*)
      .orderBy("agg_type")
  }

  /** SELF-VALIDATING twin of [[approxProfile]], giving the sketch
    * path an oracle-checkable driver gate (raw HLL / log-bucket
    * estimates have no portable SQL twin): per numeric column, the
    * exact facts the oracle recomputes (non-null count, exact
    * distinct count) plus the two envelope invariants ExtSpec
    * asserts, emitted as booleans the driver hashes against literal
    * `true`s — approx_count_distinct within 15% of exact (3× the
    * default 5% rsd), and the log-bucket median inside
    * [min, max] ± the sketch's alpha.
    *
    * Scale shape: the exact side is ONE value-counts shuffle (the
    * [[exactLong]] stack→groupBy shape — never Expand×N distinct);
    * the approx side is one 1-row sketch aggregate; they meet in an
    * N-row join (column-count-sized, broadcast-class).
    */
  def approxProfileCheck(df: DataFrame): DataFrame = {
    val cols = numericColumns(df.schema)
    require(cols.nonEmpty, "no numeric columns to profile")
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"$i, cast(`$c` as double)" }.mkString(", ")
    val vc = df
      .selectExpr(s"stack(${cols.size}, $stackArgs) as (ci, v)")
      .filter(col("v").isNotNull)
      .groupBy("ci", "v").agg(count(lit(1)).as("cnt"))
    val exact = vc.groupBy("ci").agg(
      sum("cnt").as("n_rows"),
      count(lit(1)).as("n_distinct"),
      min("v").as("__mn"), max("v").as("__mx"))
    val approxAggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      approx_count_distinct(col(c)).cast(DoubleType).as(s"and_$i"),
      graft.functions.QuantileSketch.logBucketMedian(col(c))
        .cast(DoubleType).as(s"amd_$i")) }
    val one = df.agg(approxAggs.head, approxAggs.tail: _*)
    val approxLong = one.select(explode(array(cols.indices.map { i =>
        struct(lit(i).as("ci"), col(s"and_$i").as("__and"),
          col(s"amd_$i").as("__amd")) }: _*)).as("e"))
      .select(col("e.ci").as("ci"), col("e.__and").as("__and"),
        col("e.__amd").as("__amd"))
    val alpha = 0.005
    exact.join(broadcast(approxLong), Seq("ci"))
      .select(
        element_at(array(cols.map(lit): _*), col("ci") + 1).as("col_name"),
        col("n_rows"),
        col("n_distinct"),
        (abs(col("__and") - col("n_distinct").cast(DoubleType)) <=
          col("n_distinct").cast(DoubleType) * lit(0.15))
          .as("approx_distinct_ok"),
        (col("__amd") >= col("__mn") - lit(alpha) * abs(col("__mn")) -
          lit(1e-9) &&
          col("__amd") <= col("__mx") + lit(alpha) * abs(col("__mx")) +
          lit(1e-9)).as("median_in_range"))
      .orderBy("col_name")
  }
}
