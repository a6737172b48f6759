package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Tables, TrinoTypes}
import graft.profile.TableProfiler

class ProfilerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("numeric type regex boundaries (aws-athena.sh:68)") {
    assert(TrinoTypes.isNumeric("tinyint"))
    assert(TrinoTypes.isNumeric("bigint"))
    assert(TrinoTypes.isNumeric("decimal(38,2)"))
    assert(TrinoTypes.isNumeric("real"))
    assert(!TrinoTypes.isNumeric("varchar"))
    assert(!TrinoTypes.isNumeric("timestamp(3)"))
    assert(!TrinoTypes.isNumeric("boolean"))
    assert(!TrinoTypes.isNumeric("array(double)"))
    // regex is anchored: 'xbigint' / 'bigintx' must not match
    assert(!TrinoTypes.isNumeric("xbigint"))
    assert(!TrinoTypes.isNumeric("bigintx"))
  }

  test("profile shape: 8 ordered labels x numeric columns of lineitem") {
    Tables.register(spark, TestSpark.sfDir)
    val p = TableProfiler.profileTable(spark, "lineitem")
    assert(p.columns.toSeq == Seq("agg_type", "l_orderkey", "l_partkey",
      "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax"))
    val rows = p.collect()
    assert(rows.map(_.getString(0)).toSeq == TableProfiler.aggLabels)
  }

  test("profile invariants on lineitem") {
    Tables.register(spark, TestSpark.sfDir)
    val p = TableProfiler.profileTable(spark, "lineitem").collect()
      .map(r => r.getString(0) -> r).toMap
    def stat(label: String, c: Int): Double = p(label).getDouble(c)
    for (c <- 1 to 8) {
      assert(stat("2. count_distinct", c) <= stat("1. count", c))
      assert(stat("5. min", c) <= stat("6. median", c))
      assert(stat("6. median", c) <= stat("7. max", c))
      assert(stat("3. mean", c) >= stat("5. min", c))
      assert(stat("3. mean", c) <= stat("7. max", c))
    }
  }

  test("nulls: count skips them, all-null stats are null, empty table counts 0") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, null), (null, null)).toDF("a", "b")
    val rows = TableProfiler.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("1. count").getDouble(1) == 2.0)
    assert(rows("1. count").getDouble(2) == 0.0)     // all-null column
    assert(rows("3. mean").isNullAt(2))
    assert(rows("8. sum").isNullAt(2))
    assert(rows("3. mean").getDouble(1) == 1.5)

    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("x", DoubleType))))
    val er = TableProfiler.profile(empty).collect().map(r => r.getString(0) -> r).toMap
    assert(er("1. count").getDouble(1) == 0.0)
    assert(er("7. max").isNullAt(1))
  }

  test("approxProfile on nullable/all-null columns: nulls skipped, never raised") {
    // ADVICE r12: the r12 envelope guard's CASE condition evaluated to
    // NULL for a NULL value and fell into the raise_error branch, so
    // approxProfile threw on any NULL. The range-split legs let NULL
    // fall through both sums.
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, null), (null, null)).toDF("a", "b")
    val rows = TableProfiler.approxProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("1. count").getDouble(1) == 2.0)
    assert(rows("1. count").getDouble(2) == 0.0)
    assert(rows("3. mean").getDouble(1) == 1.5)
    assert(rows("8. sum").getDouble(1) == 3.0)
    assert(rows("3. mean").isNullAt(2))
    assert(rows("8. sum").isNullAt(2))
  }

  test("range-split sum legs: wide values exact, 1e21 envelope still loud") {
    // compact leg (|v| < 1e12), wide leg (1e12 <= |v| < 1e21) and the
    // mixed case must recombine exactly in BOTH paths
    val mixed = Seq(1.5, 2.5e12, -5.0e12, 0.25).toDF("v")
    val exact = TableProfiler.profile(mixed).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = TableProfiler.approxProfile(mixed).collect()
      .map(r => r.getString(0) -> r).toMap
    // -5e12 + 2.5e12 + 1.75 = -2.4999999999982.5e12... exact decimal:
    val want = BigDecimal("-2499999999998.25").toDouble
    assert(exact("8. sum").getDouble(1) == want)
    assert(approx("8. sum").getDouble(1) == want)
    assert(exact("3. mean").getDouble(1) == approx("3. mean").getDouble(1))
    // past the envelope both paths fail loudly, not with a wrong sum
    // (the raise_error guard or, on the approx path, the ANSI decimal
    // overflow of the s2 accumulator — either way an error, never a
    // silently dropped value)
    def loud(e: Exception): Boolean =
      e.getMessage.contains("envelope") ||
        e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE")
    val huge = Seq(1.0, 2.0e21).toDF("v")
    val e1 = intercept[Exception] { TableProfiler.profile(huge).collect() }
    assert(loud(e1))
    val e2 = intercept[Exception] {
      TableProfiler.approxProfile(huge).collect()
    }
    assert(loud(e2))
  }

  test("round half-up at 5th decimal and stddev of constant column") {
    val df = Seq(0.000015, 0.000015, 0.000015).toDF("v")
    val rows = TableProfiler.profile(df).collect().map(r => r.getString(0) -> r).toMap
    assert(rows("4. std").getDouble(1) == 0.0)
    // sum = 0.000045 exactly via decimal accumulation -> round(.,5) = 0.00005 (half-up)
    assert(rows("8. sum").getDouble(1) == 0.00005)
  }

  test("profile of table unioned with itself doubles count and sum") {
    Tables.register(spark, TestSpark.sfDir)
    val t = spark.table("supplier")
    val once = TableProfiler.profile(t).collect().map(r => r.getString(0) -> r).toMap
    val twice = TableProfiler.profile(t.unionAll(t)).collect().map(r => r.getString(0) -> r).toMap
    assert(twice("1. count").getDouble(1) == 2 * once("1. count").getDouble(1))
    assert(math.abs(twice("8. sum").getDouble(3) - 2 * once("8. sum").getDouble(3)) < 1e-4)
    assert(twice("2. count_distinct").getDouble(1) == once("2. count_distinct").getDouble(1))
  }

  test("entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() == 8)
  }

  test("median regimes agree: window path == forced sharded path, bit for bit") {
    // the r16 regime switch (window cumsum when every column's distinct
    // count sorts in one task; sharded position lookup beyond) must be
    // invisible in the output — force the sharded machinery by setting
    // the gate to 1 distinct value and compare whole profiles
    Tables.register(spark, TestSpark.sfDir)
    val t = spark.table("lineitem")
    val win = TableProfiler.profileLong(t).collect()
    val sharded = TableProfiler.profileLong(t, medianWindowMax = 1L).collect()
    assert(win.toSeq == sharded.toSeq)
  }

  test("approxProfile agrees with exact profile on count/min/max/mean/sum") {
    Tables.register(spark, TestSpark.sfDir)
    val exact = TableProfiler.profileTable(spark, "orders").collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = TableProfiler.approxProfile(spark.table("orders")).collect()
      .map(r => r.getString(0) -> r).toMap
    for (label <- Seq("1. count", "3. mean", "5. min", "7. max", "8. sum"); c <- 1 to 3)
      assert(exact(label).getDouble(c) == approx(label).getDouble(c))
    // sketches land near the exact values
    for (c <- 1 to 3) {
      val e = exact("2. count_distinct").getDouble(c)
      assert(math.abs(approx("2. count_distinct").getDouble(c) - e) / e < 0.1)
    }
  }
}
