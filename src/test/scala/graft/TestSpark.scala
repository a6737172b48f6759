package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (a second SparkContext in
  * the same JVM is a classic flake source).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  // Overridable for machines whose corpus lives elsewhere; every
  // suite that needs a second scale derives it from this root.
  val dataRoot: String =
    sys.env.getOrElse("GRAFT_TESTDATA_ROOT", "/root/testdata")
  val sfDir = s"$dataRoot/sf0.001"
  val sf001Dir = s"$dataRoot/sf0.01"

  /** Spark jobs started while `body` ran, counted by a listener. A
    * marker job after `body` closes the count: the listener bus
    * delivers in order, so once the marker's start is seen every
    * earlier job start has been counted. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val Marker = "graft.spec.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Marker) != null)
          markerSeen.trySuccess(())
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Marker, null)
      Await.result(markerSeen.future, 1.minute)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
