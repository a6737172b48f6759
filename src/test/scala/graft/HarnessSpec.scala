package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** The measurement harness's protocol, on the shared test session
  * (never `Harness.session`: its getOrCreate would re-configure the
  * session every later suite uses). */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir
  private def cacheManager = spark.sharedState.cacheManager

  // earlier suites may leave shares they made outside any scope
  override def beforeAll(): Unit = {
    super.beforeAll()
    cacheManager.clearCache()
  }

  test("measure: a persist-sharing query leaves the CacheManager empty") {
    var persisted = false
    val q: Harness.Query = { (s, d) =>
      val df = SparkEntry.queries("q_profile_orders")(s, d)
      persisted ||= !cacheManager.isEmpty
      df
    }
    val m = Harness.measure(spark, sf, q)
    assert(m.error.isEmpty, m.error)
    assert(persisted, "the query shared nothing, so the check proves nothing")
    assert(Set(2, 4)(m.samples.size))
    assert(m.best == Right(m.samples.min))
    assert(cacheManager.isEmpty, "a share outlived its measured run")
  }

  test("resample: two samples within 1.5x, four past it") {
    var extra = 0
    def more: Double = { extra += 1; 9.0 }
    assert(Harness.resample(1.0, 1.5)(more) == Seq(1.0, 1.5))
    assert(Harness.resample(1.5, 1.0)(more) == Seq(1.5, 1.0))
    assert(extra == 0)
    assert(Harness.resample(1.0, 1.6)(more) == Seq(1.0, 1.6, 9.0, 9.0))
    assert(extra == 2)
  }

  test("a throwing query records the error marker and the next one still runs") {
    val boom: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    val ok: Harness.Query = (s, _) => s.range(10).toDF("x")
    val Seq(failed, fine) = Seq(boom, ok).map(Harness.measure(spark, sf, _))
    assert(failed.best == Left("IllegalStateException"))
    assert(failed.samples.isEmpty)
    assert(fine.best.isRight)
  }

  test("json escaper round-trips quote, backslash and control chars through Jackson") {
    val s = "a\"b\\c\nd\re\tf\u0001g ü"
    assert(new ObjectMapper().readValue(Harness.json(s), classOf[String]) == s)
    val o = Harness.obj(Seq("k\t1" -> Harness.json(s), "k2" -> "1.5"))
    val m = new ObjectMapper().readValue(o, classOf[java.util.Map[String, Object]])
    assert(m.get("k\t1") == s && m.get("k2") == 1.5)
  }

  test("Verify with query names writes exactly those outputs and oracles") {
    val out = Files.createTempDirectory("graft-verify")
    val names = Seq("q_profile_orders", "q_profile_lineitem_long")
    Verify.run(spark, sf, out.toString, names)
    val dirs = Files.list(out).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs == names.toSet)
    def read(f: String): java.util.Map[String, String] = new ObjectMapper()
      .readValue(out.resolve(f).toFile, classOf[java.util.Map[String, String]])
    assert(read("oracle_sql.json").keySet.asScala == names.toSet)
    assert(read("oracle_sql.json").get("q_profile_orders") ==
      SparkEntry.oracleSql("q_profile_orders"))
    assert(Files.readString(out.resolve("_errors.json")) == "{}")
    assertThrows[IllegalArgumentException](
      Verify.run(spark, sf, out.toString, Seq("q_no_such_query")))
  }

  test("stages reports no stage of the warm-up run") {
    val sc = spark.sparkContext
    val Key = "graft.spec.run"
    // stage ids of every job the warm-up (first) run submits, recorded
    // at job start on the listener bus, which delivers in order
    val warmStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Key) == "1")
          js.stageIds.foreach(warmStages.add(_))
    }
    var calls = 0
    val q: Harness.Query = { (s, d) =>
      calls += 1
      sc.setLocalProperty(Key, calls.toString)
      SparkEntry.queries("q_profile_orders")(s, d)
    }
    sc.addSparkListener(listener)
    val (wall, rows) =
      try Harness.stages(spark, sf, q)
      finally {
        sc.setLocalProperty(Key, null)
        sc.removeSparkListener(listener)
      }
    assert(calls == 2)
    assert(wall > 0)
    assert(!warmStages.isEmpty && rows.nonEmpty)
    val warmLast = warmStages.asScala.map(_.intValue).max
    assert(rows.forall(_.id > warmLast), s"warm-up stage <= $warmLast leaked: ${rows.map(_.id)}")
  }
}
