package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Share
import graft.ext.Similarity
import graft.profile.TableProfiler

/** The lifetime contract of [[graft.exec.Share]]: a scope releases the
  * shares made while its body runs, on its thread or a carried one, and
  * nothing else.
  */
class ShareSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a long session profiles a parquet table rewritten out of band afresh") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-share")
    val path = root.resolve("t")
    def write(n: Int, to: java.nio.file.Path): Unit =
      (1 to n).map(i => (i.toLong, i * 0.5)).toDF("k", "v")
        .write.parquet(to.toString)
    def rowCount(): Double = Share.scope(spark) {
      TableProfiler.profile(spark.read.parquet(path.toString))
        .filter(col("agg_type") === "1. count").select("k").head.getDouble(0)
    }
    write(100, path)
    assert(rowCount() == 100.0)
    // a new directory renamed into place outside Spark, as
    // VersionChain does: the profile's shared value counts must not
    // answer for the rewritten path
    write(1000, root.resolve("next"))
    Files.move(path, root.resolve("old"))
    Files.move(root.resolve("next"), path, StandardCopyOption.ATOMIC_MOVE)
    assert(rowCount() == 1000.0)
  }

  test("a cell-candidate estimate reads an index dir rewritten out of band afresh") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cells")
    def write(cellSize: Int, to: java.nio.file.Path): Unit =
      Seq.fill(cellSize)(7).toDF("cell").write.parquet(to.toString)
    write(3, dir.resolve("probed"))
    assert(Similarity.estimatedCellCandidates(spark, dir.toString) == 3L)
    write(10, dir.resolve("next"))
    Files.move(dir.resolve("probed"), dir.resolve("old"))
    Files.move(dir.resolve("next"), dir.resolve("probed"),
      StandardCopyOption.ATOMIC_MOVE)
    assert(Similarity.estimatedCellCandidates(spark, dir.toString) == 45L)
  }

  test("a scope releases its shares when the body returns or throws, and nests") {
    var thrown: DataFrame = null
    intercept[IllegalStateException](Share.scope(spark) {
      thrown = Share.lazily(spark.range(101).toDF("x"))
      thrown.count()
      assert(cached(thrown))
      throw new IllegalStateException("body failed")
    })
    assert(!cached(thrown))
    val (outer, inner) = Share.scope(spark) {
      val outer = Share.lazily(spark.range(102).toDF("x"))
      val inner = Share.scope(spark)(Share.lazily(spark.range(103).toDF("x")))
      assert(cached(outer) && !cached(inner), "the inner scope releases only its own")
      (outer, inner)
    }
    assert(!cached(outer) && !cached(inner))
  }

  test("work carried to another thread shares into the caller's scope") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val made = Share.scope(spark) {
      val carried = Share.carry(() => Share.lazily(spark.range(104).toDF("x")))
      val df = Await.result(Future(carried()), Duration.Inf)
      assert(cached(df))
      df
    }
    assert(!cached(made))
  }

  test("a share made outside any scope, or already cached, stays with its owner") {
    val owned = Share.lazily(spark.range(105).toDF("x"))
    try {
      Share.scope(spark) {
        Share.lazily(spark.range(105).toDF("x"))
      }
      assert(cached(owned), "the scope must not release a plan it did not cache")
    } finally owned.unpersist()
    assert(!cached(owned))
  }

  test("profileLong releases its value counts before it returns, even in an open scope") {
    spark.sharedState.cacheManager.clearCache()
    import spark.implicits._
    val t = Seq((1L, 0.5), (2L, 1.5), (2L, 2.5)).toDF("k", "v")
    val long = Share.scope(spark) {
      val long = TableProfiler.profileLong(t)
      assert(spark.sharedState.cacheManager.isEmpty,
        "the value counts outlived the profile")
      long
    }
    // the frame reads nothing the scopes released
    val cells = long.collect().map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
    assert(cells.size == 16)
    assert(cells(("k", "1. count")) == 3.0 && cells(("k", "2. count_distinct")) == 2.0)
    assert(cells(("v", "6. median")) == 1.5 && cells(("v", "8. sum")) == 4.5)
  }

  test("scopes leave checkpoints to their frames") {
    val ck = Share.scope(spark)(Share.checkpoint(spark.range(106).toDF("x")))
    assert(ck.count() == 106L)
    assert(Share.leaf(ck).isDefined)
  }
}
