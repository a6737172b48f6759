package graft.tools

import org.apache.spark.sql.SparkSession

/** Measured scaling point (VERDICT r10 #2): run the named queries at
  * two scale factors in ONE JVM and report per-query time ratios.
  * Protocol matches Bench exactly — untimed registration + index
  * prewarm + shared-frame builds per dir, then per query one
  * discarded warm-up and min-of-2 timed runs to a noop sink — so a
  * ratio compares steady-state PLAN cost, not first-touch codegen.
  * A pinned calibration micro-benchmark runs before and after each
  * dir's block; cross-dir ratios are only meaningful up to its drift.
  *
  * Usage: runMain graft.tools.ScaleSweep <outFile> <smallDir> <bigDir> <q1> [q2 ...]
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val small = args(1)
    val big = args(2)
    val queries = args.drop(3).toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0, 8000000L, 1, 32)
          .selectExpr("id % 997 as k", "md5(cast(id as string)) as h")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.expr(
            "count(distinct substring(h, 1, 4)) as c"))
          .agg(org.apache.spark.sql.functions.sum("c")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }

    def sweep(dir: String): (Map[String, Either[String, Double]], Double, Double) = {
      // set-up and every run each in a Share.scope (see Bench.once())
      graft.exec.Share.scope(spark) {
        graft.catalog.Tables.register(spark, dir)
        graft.SparkEntry.prewarmIndexes(spark, dir)
        graft.SparkEntry.buildSharedFrames(spark, dir)
      }
      val calA = calibrate()
      val times = queries.map { q =>
        def once(): Double = graft.exec.Share.scope(spark) {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // a throwing query records an err marker and the sweep goes
        // on — at the big scale a single overflow/regression must not
        // cost the whole run (it did once: the profiler's decimal
        // envelope, found by exactly this sweep)
        try {
          once()
          val t = math.min(once(), once())
          println(f"[sweep] $dir%-20s $q%-28s $t%8.2f s")
          q -> Right(t)
        } catch { case e: Throwable =>
          println(s"[sweep] $dir $q FAILED: ${e.getClass.getSimpleName}")
          q -> Left(e.getClass.getSimpleName)
        }
      }.toMap
      (times, calA, calibrate())
    }

    val (ts, calS0, calS1) = sweep(small)
    val (tb, calB0, calB1) = sweep(big)
    val rows = queries.map { q =>
      (ts(q), tb(q)) match {
        case (Right(a), Right(b)) =>
          s""""$q":{"small_s":$a,"big_s":$b,"ratio":${math.round(b / a * 100) / 100.0}}"""
        case (a, b) =>
          val err = Seq(a, b).collect { case Left(e) => e }.mkString("/")
          s""""$q":{"err":"$err"}"""
      }
    }.mkString(",")
    val line =
      s"""{"small":"$small","big":"$big","row_ratio":10,""" +
        s""""calibration":{"small":[$calS0,$calS1],"big":[$calB0,$calB1]},""" +
        s""""queries":{$rows}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    println(line)
    spark.stop()
  }
}
