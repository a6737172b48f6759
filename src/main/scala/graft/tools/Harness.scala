package graft.tools

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.exec.Share

/** The one measurement harness: the only code that builds a
  * measurement session or times a query. `graft.Bench` and
  * `graft.Verify` are thin callers; a new measurement goes through
  * [[measure]], not a new `main`.
  *
  * Usage (all but `sweep` read the corpus dir from SPARK_GRAFT_SF_DIR):
  * {{{
  * runMain graft.tools.Harness sweep <outFile> <smallDir> <bigDir> q...
  * runMain graft.tools.Harness stages q...   per-stage table of one warm run
  * runMain graft.tools.Harness phases q...   build / plan / exec split
  * runMain graft.tools.Harness plan q...     final adaptive plan
  * }}}
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions at
    * the core count, the graft extensions, 8 MB splits and UTC. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Kept at the core count: 2× was built and MEASURED (with and
      // without a 256 KB AQE coalesce floor) and is WORSE —
      // q_communities 5.9→7.8 s, q_ppr 4.9→6.7 s warm — the iterative
      // graph family pays per-round fixed costs (task launch,
      // checkpoint blocks) per partition, and AQE's size-based
      // coalescing is already right for it. Operators whose
      // downstream work AQE cannot see from shuffle bytes pin their
      // own exchange width instead (Graph.linkPrediction).
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // The sf0.1 parquet files are a few tens of MB; the default
      // 128 MB split size would give ~3 input partitions and leave
      // most local cores idle. 8 MB splits restore scan parallelism
      // at this scale (on a real cluster the default is right).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed set-up for measuring `dir`: view registration, persisted
    * index builds, a JIT warm-up of the shared codegen families and
    * the shared frames, returned as their `setup_*` entries (seconds,
    * or an error marker).
    *
    * Registration (parquet footer reads), index builds and JVM/codegen
    * warm-up are environment, not query execution. The warm-up runs on
    * tiny synthetic data, purely to JIT the hot codegen families the
    * query set shares — without it, whichever query runs FIRST in each
    * family pays a multi-second Janino+C2 compile tax that has nothing
    * to do with its plan (approxProfile 12 s cold vs 4 s warm at
    * sf0.1). Keep new hot paths (sketch/regex/window shapes)
    * represented here. The shared frames are built here, each under
    * its own entry, because the first (discarded) run of whichever
    * query touches one would otherwise pay its build unrecorded.
    * Set-up runs in its own scope: its shares are gone before the
    * first timed run; the checkpointed shared frames stay.
    */
  def setup(spark: SparkSession, dir: String): Seq[(String, Either[String, Double])] =
    Share.scope(spark) {
      graft.catalog.Tables.register(spark, dir)
      // q_knn_ivf_indexed / q_bm25_indexed then time the PROBE (the
      // pruned partition scans the index exists for), not build+probe.
      SparkEntry.prewarmIndexes(spark, dir)
      spark.range(1000).selectExpr("sum(id)").collect()
      val warm = spark.range(1000).selectExpr(
        "id", "id * 7 as v", "concat('w', id % 97, ' x', id % 13) as text")
      graft.profile.TableProfiler.profile(warm.select("id", "v")).collect()
      // sketch aggregates (approx profile path)
      graft.profile.TableProfiler.approxProfile(warm.select("id", "v")).collect()
      // regex + md5 + shuffle (text/dedup family)
      warm.selectExpr("md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) k")
        .groupBy("k").count().collect()
      // explode + window rank (shingle/top-k family)
      warm.select(explode(split(col("text"), " ")).as("w"))
        .withColumn("r", row_number().over(Window.partitionBy("w").orderBy("w")))
        .filter("r = 1").collect()
      // typed JSON extraction (events family)
      warm.selectExpr("""from_json(concat('{"k":', id, '}'), 'k BIGINT') j""")
        .selectExpr("sum(j.k)").collect()
      // collect_list + nested transform + array_intersect (graph family)
      warm.selectExpr("id % 50 as g", "id as i").groupBy("g")
        .agg(expr("array_distinct(sort_array(collect_list(i)))").as("items"))
        .selectExpr(
          """size(flatten(transform(items, (x, ix) ->
             transform(slice(items, ix + 2, size(items)), y -> struct(x as a, y as b))))) as np""",
          "size(array_intersect(items, items)) as ni")
        .agg(sum("np"), sum("ni")).collect()
      try SparkEntry.buildSharedFrames(spark, dir).map { case (n, t) => n -> Right(t) }
      catch { case e: Throwable =>
        System.err.println(s"[harness] shared-frame setup FAILED: ${e.getMessage}")
        Seq("setup_shared_frames" -> Left(e.getClass.getSimpleName))
      }
    }

  // A PINNED micro-benchmark: fixed rows, fixed plan, no benchmark
  // tables. Per-query numbers cannot be compared across runs on a
  // shared box without it — a full run once drifted ~40% mid-run and
  // produced 3-4× phantom "regressions" on untouched code. A cross-run
  // query ratio that does not exceed the calibration ratio is
  // environment, not code.
  private def calOnce(spark: SparkSession, rows: Long): Double = {
    val t0 = System.nanoTime()
    spark.range(0, rows, 1, 32)
      .selectExpr("id % 997 as k", "md5(cast(id as string)) as h")
      .groupBy("k")
      .agg(expr("count(distinct substring(h, 1, 4)) as c"))
      .agg(sum("c")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of two runs of the pinned calibration plan over `rows` rows. */
  def probe(spark: SparkSession, rows: Long): Double =
    math.min(calOnce(spark, rows), calOnce(spark, rows))

  /** The run-bracketing calibration: one discarded run, then
    * [[probe]] at 8M rows. */
  def calibrate(spark: SparkSession): Double = {
    calOnce(spark, 8000000L)
    probe(spark, 8000000L)
  }

  /** Every timed sample of one query, or the throw that ended it. */
  final case class Measurement(samples: Seq[Double], error: Option[Throwable]) {
    /** The recorded value: the min sample, or the error marker (the
      * exception's simple class name). A throwing query never records
      * its time-to-throw: that once logged 8 broken queries as ~7 ms
      * "timings". */
    def best: Either[String, Double] =
      error.map(_.getClass.getSimpleName).toLeft(samples.min)
  }

  /** The noise guard: when two timed runs of a byte-identical plan
    * disagree by >1.5×, the pair straddled a GC pause, scheduler stall
    * or page-cache miss, and its min is still contaminated or lucky —
    * take two more samples so the min is over four. */
  def resample(t1: Double, t2: Double)(more: => Double): Seq[Double] =
    if (math.max(t1, t2) > 1.5 * math.min(t1, t2)) Seq(t1, t2, more, more)
    else Seq(t1, t2)

  /** One run of `q` to the noop sink, in seconds, in its own
    * Share.scope: its persisted intermediates are released when the run
    * ends, so a later run of the same query (or a later query embedding
    * the same subplan) computes from parquet instead of reading this
    * run's blocks — in-query sharing is measured, cross-run result
    * caching never is. The noop sink, not count(): count() re-plans as
    * an empty-schema aggregate, letting Catalyst prune every computed
    * column and drop final ORDER BYs; the timed plan must be the
    * delivered plan. */
  private def run(spark: SparkSession, dir: String, q: Query): Double =
    Share.scope(spark) {
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

  /** The bench protocol for one query: one discarded warm-up run (it
    * pays the one-time JIT and codegen for the query's exact generated
    * classes, which the set-up warm-up cannot cover), then two timed
    * runs, re-sampled to four by [[resample]]. The min projects to a
    * long-running cluster's plan cost. Queries are deterministic reads,
    * so every run executes the identical plan. */
  def measure(spark: SparkSession, dir: String, q: Query): Measurement =
    try {
      run(spark, dir, q)
      Measurement(resample(run(spark, dir, q), run(spark, dir, q))(run(spark, dir, q)), None)
    } catch { case e: Throwable => Measurement(Nil, Some(e)) }

  final case class StageRow(id: Int, name: String, tasks: Int,
    wallMs: Long, runMs: Long, cpuMs: Long, inBytes: Long,
    srBytes: Long, swBytes: Long, spillBytes: Long, ops: String)

  private val MarkerKey = "graft.harness.marker"

  /** One warm run of `q` split into its stages: wall seconds plus every
    * stage the run completed. After a discarded warm-up, the run is
    * bracketed by two marker jobs; only stages completed between the
    * first marker's end and the second's are kept. The listener bus
    * delivers events in order, so warm-up stages cannot leak in and
    * trailing stages cannot be missed. Jobs are not filtered by job
    * group: labeler Futures run on pooled threads that do not inherit
    * it. */
  def stages(spark: SparkSession, dir: String, q: Query): (Double, Seq[StageRow]) = {
    val sc = spark.sparkContext
    // all listener state is confined to the listener-bus thread until
    // `done` completes
    val rows = mutable.ArrayBuffer[StageRow]()
    val markerJobs = mutable.Set[Int]()
    val markerStages = mutable.Set[Int]()
    var markersEnded = 0
    val done = Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(MarkerKey) != null) {
          markerJobs += js.jobId
          markerStages ++= js.stageIds
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (markerJobs(je.jobId)) {
          markersEnded += 1
          if (markersEnded == 2) done.success(())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (markersEnded == 1 && !markerStages(si.stageId)) {
          val m = si.taskMetrics
          val wall = (for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s).getOrElse(-1L)
          // RDD operation scopes name the plan operators this stage
          // executes — the only stage→operator attribution with the UI off
          val ops = si.rddInfos.flatMap(_.scope).map(_.name).distinct
            .mkString("|").take(200)
          rows += StageRow(si.stageId, si.name.linesIterator.next().take(160),
            si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, ops)
        }
      }
    }
    def marker(): Unit = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
    }
    run(spark, dir, q)
    sc.addSparkListener(listener)
    try {
      marker()
      val wall = run(spark, dir, q)
      marker()
      Await.result(done.future, 5.minutes)
      (wall, rows.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A JSON string literal: quote, backslash and every control char
    * escaped — a tab or CR in an oracle SQL string would otherwise make
    * a consumer's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object from escaped keys and already-rendered values. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")

  /** The named SparkEntry query; an unknown name is rejected. */
  def query(name: String): Query = SparkEntry.queries.getOrElse(name,
    throw new IllegalArgumentException(s"unknown query: $name"))

  // Measured scaling point: the named queries at two scale factors in
  // one JVM, each dir set up and calibrated before and after its block;
  // cross-dir ratios are only meaningful up to the calibration drift.
  private def sweep(spark: SparkSession, out: String, small: String, big: String,
      names: Seq[String]): Unit = {
    def at(dir: String): (Map[String, Either[String, Double]], Double, Double) = {
      setup(spark, dir)
      val calA = calibrate(spark)
      // a throwing query records an err marker and the sweep goes on —
      // at the big scale one overflow must not cost the whole run
      val times = names.map { name =>
        val t = measure(spark, dir, query(name)).best
        t match {
          case Right(s) => println(f"[sweep] $dir%-20s $name%-28s $s%8.2f s")
          case Left(e) => println(s"[sweep] $dir $name FAILED: $e")
        }
        name -> t
      }.toMap
      (times, calA, calibrate(spark))
    }
    val (ts, calS0, calS1) = at(small)
    val (tb, calB0, calB1) = at(big)
    val rows = names.map { name =>
      name -> ((ts(name), tb(name)) match {
        case (Right(a), Right(b)) => obj(Seq("small_s" -> a.toString,
          "big_s" -> b.toString, "ratio" -> (math.round(b / a * 100) / 100.0).toString))
        case (a, b) =>
          obj(Seq("err" -> json(Seq(a, b).collect { case Left(e) => e }.mkString("/"))))
      })
    }
    val line = obj(Seq("small" -> json(small), "big" -> json(big), "row_ratio" -> "10",
      "calibration" -> obj(Seq("small" -> s"[$calS0,$calS1]", "big" -> s"[$calB0,$calB1]")),
      "queries" -> obj(rows)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    println(line)
  }

  private def printStages(name: String, wall: Double, rows: Seq[StageRow]): Unit = {
    println(f"===== $name  warm wall=$wall%.2f s  stages=${rows.size} =====")
    println(f"${"id"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"runMs"}%7s " +
      f"${"cpuMs"}%7s ${"inMB"}%7s ${"srMB"}%7s ${"swMB"}%7s ${"spillMB"}%7s  name")
    for (r <- rows.sortBy(-_.wallMs))
      println(f"${r.id}%5d ${r.tasks}%5d ${r.wallMs}%7d ${r.runMs}%7d " +
        f"${r.cpuMs}%7d ${r.inBytes / 1e6}%7.1f ${r.srBytes / 1e6}%7.1f " +
        f"${r.swBytes / 1e6}%7.1f ${r.spillBytes / 1e6}%7.1f  ${r.ops}")
    val sumWall = rows.map(_.wallMs).sum / 1e3
    println(f"[stages] $name stageWallSum=$sumWall%.2f s " +
      f"(gaps = driver/plan time: ${wall - sumWall}%.2f s)")
  }

  // Build / plan / execute split of one warm run, plus Catalyst's
  // tracker phases: driver-side eager planning and codegen apart from
  // cluster execution.
  private def printPhases(spark: SparkSession, dir: String, name: String): Unit = {
    val q = query(name)
    run(spark, dir, q)
    Share.scope(spark) {
      val t0 = System.nanoTime()
      val df = q(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val ph = df.queryExecution.tracker.phases
        .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
        .mkString(" ")
      println(f"[phases] $name%-28s build=${(t1 - t0) / 1e9}%5.2f " +
        f"plan=${(t2 - t1) / 1e9}%5.2f exec=${(t3 - t2) / 1e9}%6.2f  $ph")
    }
  }

  // The FINAL adaptive plan, after execution — the only place exchange
  // and stage REUSE is visible: the initial plan duplicates every
  // shared subtree per consumer, while the executed section shows one
  // scan and shared ShuffleQueryStage ids. (The string appends the
  // initial plan below the adaptive one; read the top section.)
  private def printPlan(spark: SparkSession, dir: String, name: String): Unit =
    Share.scope(spark) {
      val df = query(name)(spark, dir)
      df.collect()
      println(s"===== $name =====")
      println(df.queryExecution.executedPlan.toString)
    }

  def main(args: Array[String]): Unit = {
    val modes = Set("stages", "phases", "plan")
    args.toList match {
      case "sweep" :: out :: small :: big :: names if names.nonEmpty =>
        names.foreach(query)
        val spark = session()
        try sweep(spark, out, small, big, names) finally spark.stop()
      case mode :: names if modes(mode) && names.nonEmpty && sys.env.contains("SPARK_GRAFT_SF_DIR") =>
        names.foreach(query)
        val dir = sys.env("SPARK_GRAFT_SF_DIR")
        val spark = session()
        try {
          setup(spark, dir)
          for (name <- names) mode match {
            case "stages" =>
              val (wall, rows) = stages(spark, dir, query(name))
              printStages(name, wall, rows)
            case "phases" => printPhases(spark, dir, name)
            case "plan" => printPlan(spark, dir, name)
          }
        } finally spark.stop()
      case _ =>
        System.err.println("usage: Harness sweep <outFile> <smallDir> <bigDir> q... " +
          "| stages q... | phases q... | plan q... (these three with SPARK_GRAFT_SF_DIR set)")
        sys.exit(2)
    }
  }
}
