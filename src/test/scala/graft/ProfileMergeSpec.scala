package graft

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.profile.{TableDiff, TableProfiler}

/** The driver-side pivot ([[TableProfiler.wide]]) and full-outer merge
  * ([[TableDiff.diffFrom]]) against the Spark plans they replace,
  * written out here as the oracle, on generated long relations: NULL,
  * NaN, -0.0 and 0.0 results, disjoint and overlapping column sets,
  * and mixed-case and non-ASCII column names, whose order is Spark's
  * UTF-8 byte order, not Java's UTF-16 order.
  */
class ProfileMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val longSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = true),
    StructField("agg_type", StringType, nullable = false),
    StructField("result", DoubleType, nullable = true)))

  // U+FB00 sorts after the surrogate pair of U+1D518 in UTF-16 and
  // before it in UTF-8
  private val names = Seq("Zeta", "alpha", "Beta_2", "b", "ärger", "Ölpreis",
    "ﬀ", "𝔘x", "日本", "x y")
  private val values: Seq[java.lang.Double] = Seq(null, Double.NaN, -0.0, 0.0,
    1.0, -2.5, 1e300, Double.NegativeInfinity, 0.1 + 0.2)

  private def long(rows: Seq[(String, String, java.lang.Double)]): DataFrame =
    spark.createDataFrame(rows.map { case (c, t, v) => Row(c, t, v) }.asJava, longSchema)

  /** A long relation over `cols`: each (column, label) present with
    * probability 3/4, with a drawn result. */
  private def gen(rnd: Random, cols: Seq[String]): Seq[(String, String, java.lang.Double)] =
    rnd.shuffle(for {
      c <- cols
      t <- TableProfiler.aggLabels
      if rnd.nextInt(4) > 0
    } yield (c, t, if (rnd.nextInt(5) == 0) java.lang.Double.valueOf(rnd.nextGaussian())
      else values(rnd.nextInt(values.size))))

  // cells with doubles by bit pattern, so -0.0 != 0.0 and NaN == NaN
  private def cells(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: java.lang.Double => ("double", java.lang.Double.doubleToLongBits(d))
    case other => other
  })

  private def sameAs(driver: DataFrame, oracle: DataFrame): Unit = {
    assert(driver.schema == oracle.schema)
    assert(cells(driver) == cells(oracle))
  }

  test("wide equals Spark's pivot on generated long relations") {
    val rnd = new Random(20261018)
    for (_ <- 1 to 12) {
      val present = rnd.shuffle(names).take(1 + rnd.nextInt(names.size))
      // the pivot columns overlap the present names, with extras
      val cols = rnd.shuffle(names).take(1 + rnd.nextInt(names.size))
      val in = long(gen(rnd, present))
      val oracle = in.groupBy("agg_type").pivot("column_name", cols)
        .agg(first("result")).orderBy("agg_type")
      sameAs(TableProfiler.wide(in, cols), oracle)
    }
  }

  test("diffFrom equals Spark's full-outer join and sort on generated long relations") {
    val rnd = new Random(1018)
    def oracle(b: DataFrame, t: DataFrame): DataFrame =
      b.withColumnRenamed("result", "base_result")
        .join(t.withColumnRenamed("result", "target_result"),
          Seq("column_name", "agg_type"), "full_outer")
        .withColumn("equal", col("base_result") <=> col("target_result"))
        .orderBy("column_name", "agg_type")
    for (i <- 1 to 12) {
      val shuffled = rnd.shuffle(names)
      val split = rnd.nextInt(names.size)
      // even cases: disjoint column sets; odd: overlapping ones
      val (bc, tc) =
        if (i % 2 == 0) (shuffled.take(split), shuffled.drop(split))
        else (shuffled.take(split + 1), shuffled.drop(split / 2))
      val base = gen(rnd, bc)
      // overlapping cells copy the base value half the time, so equal
      // cells (NaN, NULL and ±0.0 among them) occur
      val baseCell = base.map { case (c, t, v) => (c, t) -> v }.toMap
      val target = gen(rnd, tc).map { case (c, t, v) =>
        (c, t, baseCell.get((c, t)).filter(_ => rnd.nextBoolean()).getOrElse(v))
      }
      val (b, t) = (long(base), long(target))
      sameAs(TableDiff.diffFrom(b, t), oracle(b, t))
    }
  }

  test("diffFrom matches no NULL key, as the join does") {
    val nullable = StructType(longSchema.fields.map(_.copy(nullable = true)))
    def rel(rows: Row*) = spark.createDataFrame(rows.asJava, nullable)
    val b = rel(Row(null, "1. count", 1.0), Row("a", null, 2.0), Row("a", "1. count", 3.0))
    val t = rel(Row(null, "1. count", 1.0), Row("a", null, 2.0), Row("a", "1. count", 3.0))
    val oracle = b.withColumnRenamed("result", "base_result")
      .join(t.withColumnRenamed("result", "target_result"),
        Seq("column_name", "agg_type"), "full_outer")
      .withColumn("equal", col("base_result") <=> col("target_result"))
    val driver = TableDiff.diffFrom(b, t)
    assert(driver.schema == oracle.schema)
    // NULL-keyed rows tie in the sort, so compare as multisets
    def sortedCells(df: DataFrame) = cells(df).map(_.toString).sorted
    assert(sortedCells(driver) == sortedCells(oracle))
    assert(driver.count() == 5)
  }
}
