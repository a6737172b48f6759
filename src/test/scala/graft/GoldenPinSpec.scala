package graft

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables

/** Golden-file pins for the three queries with no portable DuckDB
  * oracle (q_compression's zlib lengths, q_profile_approx's
  * log-bucket sketch estimates, q_sketch_rollup's HLL registers).
  * The driver can only rows-check these, so between driver runs a
  * silent output change would go unnoticed; each already has an
  * oracle-green `_check` twin hashing its exact facts and error
  * envelopes, and this spec adds the complement — a bit-exact pin of
  * the FULL output at sf0.01 (the driver's verify scale). The queries
  * are deterministic by construction (md5-derived sketches, fixed
  * zlib encoder) and partition-independence is sweep-proven, so a
  * hash change here means the OUTPUT changed — which must be a
  * deliberate, reviewed edit of the expected constants below.
  *
  * Suite hygiene (ADVICE r11): the data dir derives from
  * [[TestSpark.sf001Dir]] (same root every suite uses), the catalog
  * mutation is undone in `afterAll` (order/filter-proof, unlike the
  * old trailing restore test), and on a machine without the sf0.01
  * corpus the pins CANCEL instead of failing.
  */
class GoldenPinSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val sf001 = TestSpark.sf001Dir
  private def sf001Present =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  private def cacheManager = spark.sharedState.cacheManager

  // Suites before this one share the session and may leave shares they
  // made outside any scope; start from an empty CacheManager so the
  // checks below see only what these queries leave.
  override def beforeAll(): Unit = {
    super.beforeAll()
    cacheManager.clearCache()
  }

  /** `body` in a Share.scope, which must leave the CacheManager empty. */
  private def scoped[T](body: => T): T =
    try graft.exec.Share.scope(spark)(body)
    finally assert(cacheManager.isEmpty, "a share outlived its scope")

  override def afterAll(): Unit = {
    // undo this suite's catalog registration even if a test failed or
    // the suite ran filtered
    if (sf001Present) Tables.register(spark, TestSpark.sfDir)
    super.afterAll()
  }

  /** Canonical serialization mirroring the driver's compare: columns
    * sorted by name, rows sorted lexicographically, cells via Java
    * toString (Double.toString is exact and platform-independent).
    */
  private def goldenMd5(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    val cols = df.columns.sorted.toIndexedSeq
    val body = df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001"))
      .sorted.mkString("\n")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  private val pins = Map(
    "q_compression" -> "b2ac05378a3fdc6afa1770e55e6b0fab",
    "q_profile_approx" -> "ffc476a1b0caeb7dce60605d596a3544",
    "q_sketch_rollup" -> "910635f36809833d5c2e9d6133035855")

  pins.toSeq.sortBy(_._1).foreach { case (name, expected) =>
    test(s"$name output at sf0.01 matches its committed golden hash") {
      assume(sf001Present, s"sf0.01 corpus not present at $sf001")
      val actual = scoped(goldenMd5(name))
      assert(actual == expected,
        s"$name sf0.01 output changed: got $actual, pinned $expected — " +
          "if the change is intentional, update the pin AND re-verify " +
          "the _check twin still passes")
    }
  }

  test("an agreement operator's shares, made across its labeler threads, end with the scope") {
    assume(sf001Present, s"sf0.01 corpus not present at $sf001")
    assert(scoped(SparkEntry.queries("q_label_kappa")(spark, sf001).collect()).length == 1)
  }

  test("a scope whose body throws still releases its shares") {
    val e = intercept[IllegalStateException](scoped {
      graft.exec.Share.lazily(spark.range(1000).toDF("x")).count()
      throw new IllegalStateException("query failed")
    })
    assert(e.getMessage == "query failed")
  }
}
