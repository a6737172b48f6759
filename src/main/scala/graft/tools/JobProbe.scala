package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-stage wall/shuffle breakdown of one query execution — the
  * measurement companion to [[Scratch]] for optimization work: where
  * [[PhaseProbe]] splits build/plan/execute, this splits EXECUTE into
  * stages (name, task count, wall span, executor run time, shuffle
  * bytes read/written, input bytes) via a SparkListener, so a slow
  * query's cost lands on a named operator boundary instead of a
  * single number. `runMain graft.tools.JobProbe q_name...` (sf from
  * SPARK_GRAFT_SF_DIR, default sf0.1). Each query runs twice; the
  * second (warm, codegen-cached) run is the one reported.
  */
object JobProbe {
  final case class StageRow(id: Int, name: String, tasks: Int,
    wallMs: Long, runMs: Long, cpuMs: Long, inBytes: Long,
    srBytes: Long, swBytes: Long, spillBytes: Long, ops: String)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("PROBE_SHUFFLE", "64"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("PROBE_MINPART", "256k"))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val stages = mutable.LinkedHashMap[Int, StageRow]()
    var collecting = false
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s).getOrElse(-1L)
          // RDD operation scopes name the plan operators this stage
          // executes (WholeStageCodegen ids, Exchange, InMemoryTableScan
          // …) — the only stage→operator attribution available with the
          // UI off.
          val ops = si.rddInfos.flatMap(_.scope).map(_.name).distinct
            .mkString("|").take(200)
          stages(si.stageId) = StageRow(si.stageId,
            si.name.linesIterator.next().take(160), si.numTasks, wall,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.diskBytesSpilled, ops)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    for (q <- args) {
      // one Share.scope per run (see Bench.once())
      def run(): Unit = graft.exec.Share.scope(spark) {
        graft.SparkEntry.queries(q)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      // warm-up run (codegen + JIT), not collected
      run()
      stages.clear()
      collecting = true
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      // let stragglers' completion events drain
      Thread.sleep(300)
      collecting = false
      println(f"===== $q  warm wall=$wall%.2f s  stages=${stages.size} =====")
      println(f"${"id"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"runMs"}%7s " +
        f"${"cpuMs"}%7s ${"inMB"}%7s ${"srMB"}%7s ${"swMB"}%7s ${"spillMB"}%7s  name")
      val rows = stages.values.toSeq.sortBy(-_.wallMs)
      for (r <- rows) {
        println(f"${r.id}%5d ${r.tasks}%5d ${r.wallMs}%7d ${r.runMs}%7d " +
          f"${r.cpuMs}%7d ${r.inBytes / 1e6}%7.1f ${r.srBytes / 1e6}%7.1f " +
          f"${r.swBytes / 1e6}%7.1f ${r.spillBytes / 1e6}%7.1f  ${r.ops}")
      }
      val sumWall = rows.map(_.wallMs).sum
      println(f"[jobprobe] $q stageWallSum=${sumWall / 1e3}%.2f s " +
        f"(gaps = driver/plan time: ${wall - sumWall / 1e3}%.2f s)")
    }
    spark.stop()
  }
}
