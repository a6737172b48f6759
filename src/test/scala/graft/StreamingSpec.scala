package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables
import graft.ext.Events
import graft.streaming.EventStream

/** Structured Streaming specs: the streaming plans must agree with
  * their batch twins when drained over the same files
  * (Trigger.AvailableNow ≙ one full-batch pass).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The file stream source wants a directory; stage the single
    * events.parquet into one.
    */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toFile.deleteOnExit()
    dir.toString
  }

  test("readEvents starts on an empty input directory (contract-schema fallback)") {
    // standard deployment order: the stream is attached BEFORE the
    // first file lands; footer inference has nothing to read, so the
    // contract RawSchema must kick in and normalize the same way
    val empty = java.nio.file.Files
      .createTempDirectory("graft-stream-empty").toString
    val df = EventStream.readEvents(spark, empty)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
  }

  test("readEvents falls back to the contract schema on a corrupt footer") {
    // a garbage .parquet (truncated/corrupt footer) makes batch
    // inference throw a non-AnalysisException error; stream setup
    // must still come up on RawSchema instead of aborting
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-corrupt")
    java.nio.file.Files.write(dir.resolve("bad.parquet"),
      "PAR1 this is not a parquet footer".getBytes("UTF-8"))
    dir.toFile.deleteOnExit()
    val df = EventStream.readEvents(spark, dir.toString)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSet ==
      EventStream.RawSchema.fieldNames.toSet,
      s"must fall back to contract RawSchema, got ${df.schema.treeString}")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("streaming tumbling windows agree with the batch twin") {
    val streamed = EventStream.tumblingHourly(
      EventStream.readEvents(spark, eventsDir))
    val got = EventStream.runAvailableNow(spark, streamed, "stream_hourly")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.tumblingHourlyExact(spark.table("events"))
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    // The watermark may hold back the final (open) windows in append
    // mode, but AvailableNow with a terminal batch flushes state; all
    // emitted windows must match the batch result exactly.
    assert(got.nonEmpty)
    assert(got.subsetOf(batch))
    // at least everything older than the watermark horizon was emitted
    assert(got.size >= batch.size - 2)
  }

  test("streaming hopping windows agree with the batch twin") {
    val streamed = EventStream.hoppingHourly(
      EventStream.readEvents(spark, eventsDir))
    val got = EventStream.runAvailableNow(spark, streamed, "stream_hopping")
      .select("win_start_us", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.hoppingHourly(spark.table("events"))
      .select("win_start_us", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    assert(got.nonEmpty)
    assert(got.subsetOf(batch))
    // the watermark may hold back up to two open (sliding) windows
    // per event type at the tail
    val nTypes = batch.map(_._2).toSeq.distinct.size
    assert(got.size >= batch.size - 2 * nTypes,
      s"held back too many windows: ${batch.size - got.size} (types=$nTypes)")
  }

  test("maintainSnapshot: change stream folds into the correct current table") {
    import spark.implicits._
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-changes").toString
    val snapDir = java.nio.file.Files
      .createTempDirectory("graft-snap").toString
    // three change files = three micro-batches (maxFilesPerTrigger=1);
    // file order follows lexicographic listing, so name them b0<b1<b2
    Seq((1L, "alice", "upsert"), (2L, "bob", "upsert"))
      .toDF("id", "name", "op").coalesce(1)
      .write.parquet(s"$changesDir/b0")
    Seq((1L, "alice2", "upsert"), (2L, "bob", "delete"))
      .toDF("id", "name", "op").coalesce(1)
      .write.parquet(s"$changesDir/b1")
    Seq((3L, "carol", "upsert"))
      .toDF("id", "name", "op").coalesce(1)
      .write.parquet(s"$changesDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    val changes = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(changesDir)
    val q = EventStream.maintainSnapshot(changes, snapDir, "id")
    q.awaitTermination(120000L)
    val now = EventStream.readSnapshot(spark, snapDir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(now.toSeq == Seq((1L, "alice2"), (3L, "carol")),
      "upsert+delete+insert chain must fold to the current table")
  }

  test("debounceStream agrees with the batch debounce over the same files") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val streamed = EventStream.debounceStream(
      EventStream.readEvents(spark, eventsDir), gapSeconds = 3600L)
    val q = streamed.writeStream
      .format("memory").queryName("stream_debounce")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-debounce").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    q.stop()
    val got = spark.table("stream_debounce")
      .select("eventId", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.debounce(spark.table("events"), 3600L)
      .select("event_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == batch.size)
    assert(got == batch, "streaming verdicts must equal the batch twin's")
    assert(got.valuesIterator.contains(false), "the stream must collapse something")
  }

  test("firstTouchStream rows equal the batch first-touch attribution") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val streamed = EventStream.firstTouchStream(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("stream_firsttouch")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-firsttouch").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    q.stop()
    def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val got = spark.table("stream_firsttouch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        optLong(r, 4), optLong(r, 5))).toSet
    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.firstTouchAttribution(spark.table("events")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        optLong(r, 4), optLong(r, 5))).toSet
    assert(got == batch, "streamed attribution must equal the batch rows")
    assert(batch.exists(_._5.isDefined) && batch.exists(_._5.isEmpty),
      "fixture must exercise both attributed and unattributed purchases")
  }

  test("transitionsStream edge counts equal the batch Markov roll-up") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val streamed = EventStream.transitionsStream(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("stream_transitions")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-transitions").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    q.stop()
    val got = spark.table("stream_transitions")
      .groupBy("fromType", "toType").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.eventTransitions(spark.table("events"))
      .select("from_type", "to_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == batch, "streamed edges must roll up to the batch matrix")
  }

  test("transitionCountsStream finalizes to the exact batch transition entropy") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val streamed = EventStream.transitionCountsStream(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("stream_transition_counts")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-tentropy").toString)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    q.stop()
    val got = Events.entropyFromTransitionCounts(
      spark.table("stream_transition_counts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    Tables.register(spark, TestSpark.sfDir)
    val batch = Events.transitionEntropy(spark.table("events")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == batch,
      "streamed transition counts must finalize to the batch entropy rows")
    assert(batch.nonEmpty)
  }

  test("maintainCorpusStats: merged numerators finalize to the exact batch stats") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val inDir = java.nio.file.Files
      .createTempDirectory("graft-stats-in").toString
    val statsDir = java.nio.file.Files
      .createTempDirectory("graft-stats-out").toString
    val schema = docs.schema
    def run(sub: String, part: org.apache.spark.sql.DataFrame): Unit = {
      part.coalesce(1).write.parquet(s"$inDir/$sub")
      val q = EventStream.maintainCorpusStats(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(s"$inDir/$sub"),
        statsDir)
      q.awaitTermination(120000L)
    }
    run("r1", docs.filter(col("doc_id") % 2 === 0))
    run("r2", docs.filter(col("doc_id") % 2 === 1))
    val got = EventStream.readCorpusStats(spark, statsDir).collect().toSeq
    val batch = graft.ext.TextStats.corpusStats(docs).collect().toSeq
    assert(got.nonEmpty && got == batch,
      "two ingested halves must finalize to the one-shot batch stats, cell-exact")
  }

  test("nearDupGateStream: probes the accumulated store; first-seen wins in-batch") {
    import spark.implicits._
    val inDir = java.nio.file.Files
      .createTempDirectory("graft-gate-in").toString
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft-gate-store").toString
    val verdictDir = java.nio.file.Files
      .createTempDirectory("graft-gate-verdict").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val a = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val aNear = ((1 to 59).map(i => s"alpha$i") :+ "changed").mkString(" ")
    val b = (1 to 60).map(i => s"beta$i").mkString(" ")
    val c = (1 to 60).map(i => s"gamma$i").mkString(" ")
    val d = (1 to 60).map(i => s"delta$i").mkString(" ")
    def run(sub: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$inDir/$sub")
      val q = EventStream.nearDupGateStream(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(s"$inDir/$sub"),
        storeDir, verdictDir, simThreshold = 0.5)
      q.awaitTermination(120000L)
    }
    run("r1", Seq((1L, a), (2L, b)))
    // batch 2: 3 ≈ stored 1 (one token changed), 4 = stored 2 exactly,
    // 5/6 identical in-batch (5 first-seen), 7 fresh
    run("r2", Seq((3L, aNear), (4L, b), (5L, c), (6L, c), (7L, d)))
    val verdicts = spark.read.parquet(verdictDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getDouble(2)))).toMap
    assert(verdicts.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(!verdicts(1L)._1 && !verdicts(2L)._1, "first batch is all fresh")
    assert(verdicts(3L)._1, "near-dup of a stored doc is quarantined")
    assert(verdicts(4L)._1 && verdicts(4L)._2 == 1.0,
      "exact dup of a stored doc estimates 1.0")
    assert(!verdicts(5L)._1 && verdicts(6L)._1 && verdicts(6L)._2 == 1.0,
      "within a batch the smaller id survives")
    assert(!verdicts(7L)._1, "fresh content passes")
    // the store holds signatures for exactly the accepted docs
    val stored = spark.read.parquet(storeDir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(stored == Set(1L, 2L, 5L, 7L))
  }

  test("maintainAggView: micro-batched delta folds equal incrementalAgg and the full recompute") {
    import spark.implicits._
    import graft.ext.Merge
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-aggview-changes").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft-aggview").toString
    // b0 seeds two groups; b1 moves a key ACROSS groups, updates one
    // in place, inserts a new key; b2 deletes a key and empties no
    // group; two keys share values that exercise the decimal fold
    Seq((1L, "g1", 1.25, "upsert"), (2L, "g1", 2.5, "upsert"),
      (3L, "g2", 10.0, "upsert"))
      .toDF("id", "g", "v", "op").coalesce(1)
      .write.parquet(s"$changesDir/b0")
    Seq((1L, "g2", 1.75, "upsert"), (2L, "g1", 0.5, "upsert"),
      (4L, "g3", 7.0, "upsert"))
      .toDF("id", "g", "v", "op").coalesce(1)
      .write.parquet(s"$changesDir/b1")
    Seq((3L, "g2", 0.0, "delete"))
      .toDF("id", "g", "v", "op").coalesce(1)
      .write.parquet(s"$changesDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    val q = EventStream.maintainAggView(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(changesDir),
      dir, "id", "g", "v")
    q.awaitTermination(120000L)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed = canon(EventStream.readAggView(spark, dir, "g"))
    // truth 1: full re-aggregation of the final snapshot
    val snap = EventStream.readSnapshot(spark, s"$dir/snap")
    val full = canon(snap.groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("v").cast("decimal(18,6)")).cast("double"), 5)
          .as("sum_value"))
      .orderBy("g"))
    // truth 2: the BATCH incrementalAgg applied in one step (base =
    // snapshot before the last batch, changes = the last batch)
    val beforeLast = spark.read.parquet(s"$dir/snap/v=1")
    val lastBatch = spark.read.parquet(s"$changesDir/b2")
    val oneStep = canon(Merge.incrementalAgg(
      beforeLast, lastBatch, "id", "g", "v"))
    // after b1: key 1 moved g1→g2 (1.75), key 2 upserted IN PLACE to
    // 0.5, key 4 inserted in g3; b2 deletes key 3 (g2's 10.0)
    assert(streamed == Seq(("g1", 1L, 0.5), ("g2", 1L, 1.75),
      ("g3", 1L, 7.0)))
    assert(streamed == full, "streamed view != full recompute")
    assert(streamed == oneStep, "streamed view != batch incrementalAgg")
  }

  test("maintainAggView: seqCol collapses a key changed twice in ONE batch (r13 advice)") {
    import spark.implicits._
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-aggview-seq-changes").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft-aggview-seq").toString
    // NO maxFilesPerTrigger: AvailableNow folds everything into one
    // batch — the exact boundary condition the advice flagged. Key 1
    // changes twice (upsert then upsert), key 2 twice (delete would
    // be first but seq orders upsert LAST): last-per-key must win.
    Seq((1L, "g1", 1.0, "upsert", 1L), (1L, "g1", 3.0, "upsert", 2L),
      (2L, "g2", 5.0, "upsert", 1L),
      (3L, "g2", 9.0, "upsert", 1L), (3L, "g2", 0.0, "delete", 2L))
      .toDF("id", "g", "v", "op", "seq").coalesce(1)
      .write.parquet(s"$changesDir/b0")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, g STRING, v DOUBLE, op STRING, seq BIGINT")
    val q = EventStream.maintainAggView(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(changesDir),
      dir, "id", "g", "v", seqCol = Some("seq"))
    q.awaitTermination(120000L)
    val got = EventStream.readAggView(spark, dir, "g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // key 1 → 3.0 (last upsert), key 2 → 5.0, key 3 → deleted
    assert(got == Seq(("g1", 1L, 3.0), ("g2", 1L, 5.0)))
    // and the view equals the full recompute of the snapshot
    val full = EventStream.readSnapshot(spark, s"$dir/snap")
      .groupBy("g").agg(count(lit(1)).as("n_rows"),
        round(sum(col("v").cast("decimal(18,6)")).cast("double"), 5)
          .as("sum_value"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == full, "collapsed view != full recompute")
  }

  test("maintainAggView: duplicate key in a batch WITHOUT seqCol fails loudly") {
    import spark.implicits._
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-aggview-dup-changes").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft-aggview-dup").toString
    Seq((1L, "g1", 1.0, "upsert"), (1L, "g1", 3.0, "upsert"))
      .toDF("id", "g", "v", "op").coalesce(1)
      .write.parquet(s"$changesDir/b0")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, g STRING, v DOUBLE, op STRING")
    val q = EventStream.maintainAggView(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(changesDir),
      dir, "id", "g", "v")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000L)
    }
    assert(e.getMessage.contains("unique-key-per-change-set") ||
      Option(e.getCause).exists(_.getMessage
        .contains("unique-key-per-change-set")),
      s"must fail with the contract message, got: ${e.getMessage.take(300)}")
  }

  test("maintainAggView: an orphan snap version (crash between commits) is healed") {
    import spark.implicits._
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-aggview-crash-changes").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft-aggview-crash").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, g STRING, v DOUBLE, op STRING")
    def run(sub: String, rows: Seq[(Long, String, Double, String)]): Unit = {
      rows.toDF("id", "g", "v", "op").coalesce(1)
        .write.parquet(s"$changesDir/$sub")
      val q = EventStream.maintainAggView(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(s"$changesDir/$sub"),
        dir, "id", "g", "v")
      q.awaitTermination(120000L)
    }
    run("r1", Seq((1L, "g1", 1.0, "upsert"), (2L, "g2", 2.0, "upsert")))
    // simulate the crash window: snapshot v=1 committed, view v=1 not
    // (snap commits FIRST, so this is the only possible orphan shape).
    // The orphan's CONTENT is what a real crash leaves: the correct
    // next snapshot of some batch whose view never landed.
    EventStream.readSnapshot(spark, s"$dir/snap")
      .write.parquet(s"$dir/snap/v=1")
    // next run must seed from the OLDER chain head (0), replay onto
    // base v=0, and overwrite the orphan instead of wedging on rename
    run("r2", Seq((2L, "g2", 5.0, "upsert"), (3L, "g1", 7.0, "upsert")))
    val got = EventStream.readAggView(spark, dir, "g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("g1", 2L, 8.0), ("g2", 1L, 5.0)))
    // both chains have healed to the same head with matching content
    val full = EventStream.readSnapshot(spark, s"$dir/snap")
      .groupBy("g").agg(count(lit(1)).as("n_rows"),
        round(sum(col("v").cast("decimal(18,6)")).cast("double"), 5)
          .as("sum_value"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == full, "healed view != full recompute of healed snapshot")
  }

  test("maintainSnapshot: a second run on the same directory continues the chain") {
    import spark.implicits._
    val changesDir = java.nio.file.Files
      .createTempDirectory("graft-changes2").toString
    val snapDir = java.nio.file.Files
      .createTempDirectory("graft-snap2").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    def run(sub: String, rows: Seq[(Long, String, String)]): Unit = {
      Seq(rows: _*).toDF("id", "name", "op").coalesce(1)
        .write.parquet(s"$changesDir/$sub")
      // fresh stream + fresh checkpoint per invocation: batch ids
      // restart at 0, which is exactly the rerun trap being pinned
      val q = EventStream.maintainSnapshot(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(s"$changesDir/$sub"),
        snapDir, "id")
      q.awaitTermination(120000L)
    }
    run("r1", Seq((1L, "alice", "upsert"), (2L, "bob", "upsert")))
    run("r2", Seq((2L, "bob2", "upsert"), (3L, "carol", "upsert")))
    val now = EventStream.readSnapshot(spark, snapDir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(now.toSeq == Seq((1L, "alice"), (2L, "bob2"), (3L, "carol")),
      "second run must merge into the FIRST run's final version")
  }

  test("streaming distinct-user sketch tracks the exact batch distinct") {
    val streamed = EventStream.distinctUsersHourly(
      EventStream.readEvents(spark, eventsDir))
    val got = EventStream.runAvailableNow(spark, streamed, "stream_distinct")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)

    Tables.register(spark, TestSpark.sfDir)
    val exact = spark.table("events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct("user_id").as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // every emitted window exists in the batch result and the sketch
    // is within HLL++ tolerance (exact in the sparse regime)
    got.foreach { case (k, n) =>
      assert(exact.contains(k), s"spurious window $k")
      val e = exact(k)
      assert(math.abs(n - e).toDouble <= math.max(1.0, 0.1 * e),
        s"window $k: sketch $n vs exact $e")
    }
  }

  test("streamed daily value counts merge into the batch rollup") {
    val streamed = EventStream.dailyValueCountsStream(
      EventStream.readEvents(spark, eventsDir))
    val got = EventStream.runAvailableNow(spark, streamed, "stream_vc")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

    Tables.register(spark, TestSpark.sfDir)
    val batch = graft.ext.Sketches.dailyValueCounts(spark.table("events"))
      .select("event_type", "day_num", "v", "cnt")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

    // append mode emits a day once the watermark passes it; AvailableNow's
    // terminal batch flushes the rest — every emitted row must be a
    // batch row, and at most the final open day may be held back
    assert(got.nonEmpty && got.subsetOf(batch))
    val gotDays = got.map(_._2)
    val batchDays = batch.map(_._2)
    assert(batchDays.diff(gotDays).forall(_ >= batchDays.max - 1),
      "only the trailing watermark-open day(s) may be missing")
    // the streamed relation must roll up exactly like the batch one on
    // the emitted days (counts merge by addition — zero error)
    val days = gotDays
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // fresh leaf: the quantile pipeline self-joins its input, and the
    // MemoryPlan view trips Spark's conflicting-reference resolution
    val vcT = spark.table("stream_vc")
    val vcFresh = spark.createDataFrame(vcT.rdd, vcT.schema)
    val roll = rows(graft.ext.Sketches.rollupQuantiles(
      vcFresh, Seq("p50" -> 0.5)))
    val rollBatch = rows(graft.ext.Sketches.rollupQuantiles(
      graft.ext.Sketches.dailyValueCounts(spark.table("events"))
        .where(col("day_num").isin(days.toSeq: _*)), Seq("p50" -> 0.5)))
    assert(roll == rollBatch)
  }

  test("valueQuantileStream: batch-split arrivals finalize to the batch median") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val streamed = EventStream.valueQuantileStream(
      input.toDF.toDF("ts", "event_type", "value"))
    val q = streamed.writeStream
      .format("memory").queryName("stream_vq")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-vq").toString)
      .outputMode("append")
      .start()
    // one 10:00 window's events arrive split across THREE micro-batches
    // (the state-store merge path); a later event closes the window
    val all = Seq(1.0, 10.0, 100.0, 1000.0, 5.0, 50.0, 500.0)
    try {
      input.addData((ts("2026-01-01 10:00:10"), "lat", all(0)),
        (ts("2026-01-01 10:10:00"), "lat", all(1)))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 10:20:00"), "lat", all(2)),
        (ts("2026-01-01 10:30:00"), "lat", all(3)),
        (ts("2026-01-01 10:40:00"), "lat", all(4)))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 10:50:00"), "lat", all(5)),
        (ts("2026-01-01 10:55:00"), "lat", all(6)))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 12:00:00"), "lat", 7.0)) // close 10:00
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT n_events, median_value FROM stream_vq " +
        "WHERE event_type = 'lat' AND hour(window_start) = 10").collect()
      assert(got.length == 1, "the 10:00 window must finalize exactly once")
      // batch twin: the SAME aggregate over the same 7 rows in one go
      val batch = all.map(v => (ts("2026-01-01 10:30:00"), "lat", v))
        .toDF("ts", "event_type", "value")
        .agg(org.apache.spark.sql.functions.round(
          graft.functions.QuantileSketch.logBucketMedian(col("value")), 5))
        .collect()(0).getDouble(0)
      assert(got(0).getLong(0) == 7L)
      assert(got(0).getDouble(1) == batch,
        s"streamed median ${got(0).getDouble(1)} != batch $batch — " +
          "the sketch merge must not depend on batch boundaries")
      // sanity: the true median of the 7 values is 50
      assert(math.abs(got(0).getDouble(1) - 50.0) <= 0.005 * 50.0)
    } finally q.stop()
  }

  test("valueQuantileStream over the event files equals the batch windows") {
    val streamed = EventStream.valueQuantileStream(
      EventStream.readEvents(spark, eventsDir))
    val got = EventStream.runAvailableNow(spark, streamed, "stream_vq_file")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    Tables.register(spark, TestSpark.sfDir)
    val batch = spark.table("events").where(col("value").isNotNull)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.round(
          graft.functions.QuantileSketch.logBucketMedian(
            col("value").cast("double")), 5).as("median_value"))
      .select(col("window.start"), col("event_type"), col("n_events"),
        col("median_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // append mode may hold back trailing watermark-open windows; all
    // emitted rows must match the batch computation EXACTLY
    assert(got.nonEmpty && got.subsetOf(batch),
      s"streamed windows must be batch windows; extras: ${got.diff(batch).take(3)}")
  }

  test("noveltyGateStream: batch-start probe equals the bloom(k=1) batch twin") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mBits = 1L << 20
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamed = EventStream.noveltyGateStream(
      input.toDF.toDF("doc_id", "text"), mBits = mBits, shards = 4)
    val q = streamed.writeStream
      .format("memory").queryName("stream_novelty")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-novelty").toString)
      .outputMode("append")
      .start()
    val aDocs = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven")
    val bDocs = Seq(3L -> "alpha beta gamma delta epsilon zeta", // = doc 1
      4L -> "alpha beta gamma NEW words here now",               // overlaps doc 1
      5L -> "entirely fresh vocabulary nothing shared at all")
    // the same position pipeline as the stream, in batch
    def positions(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")
      .withColumn("__sh", graft.ext.Dedup.shingles(
        graft.ext.TextStats.tokens(col("text")), 3))
      .select(col("doc_id"), explode(col("__sh")).as("text"))
      .select(col("doc_id"), element_at(
        graft.ext.Sketches.bloomPositions(col("text"), mBits, 1), 1).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    try {
      input.addData(aDocs: _*); q.processAllAvailable()
      input.addData(bDocs: _*); q.processAllAvailable()
      val got = spark.sql(
        "SELECT docId, sum(nPositions), sum(nNovel) FROM stream_novelty " +
        "GROUP BY docId").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // batch A probes an empty filter: everything novel
      for ((d, _) <- aDocs) assert(got(d)._1 == got(d)._2, s"doc $d")
      // batch B probes exactly batch A's bits
      val aBits = positions(aDocs).map(_._2).toSet
      val bPos = positions(bDocs).groupBy(_._1)
      for ((d, _) <- bDocs) {
        val ps = bPos(d).map(_._2)
        assert(got(d)._1 == ps.length.toLong, s"doc $d positions")
        assert(got(d)._2 == ps.count(p => !aBits.contains(p)).toLong,
          s"doc $d novelty must equal the batch twin")
      }
      // the exact-copy doc has NO novel positions (no false negatives)
      assert(got(3L)._2 == 0L)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates") {
    // stage the same file twice: every event_id arrives twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-stream-dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dupDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dupDir.resolve("b.parquet"))
    val deduped = EventStream.runAvailableNow(spark,
      EventStream.dedupStream(EventStream.readEvents(spark, dupDir.toString)),
      "stream_dedup")
    val n = deduped.count()
    Tables.register(spark, TestSpark.sfDir)
    assert(n == spark.table("events").count()) // each id survives once
  }

  test("map-only doc-stats gates run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // withDocStats is a pure projection, so the SAME operator the
    // batch queries grade composes onto readStream with no changes —
    // quality filtering at ingest time
    val streamed = graft.ext.TextStats
      .withDocStats(input.toDF.toDF("doc_id", "text"))
      .filter(col("n_tokens") >= 3)
      .select("doc_id", "n_tokens", "quality_score")
    val q = streamed.writeStream
      .format("memory").queryName("stream_docstats")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-docstats").toString)
      .outputMode("append")
      .start()
    try {
      input.addData((1L, "a a the fox jumps"), (2L, "too short"))
      q.processAllAvailable()
      val rows = spark.table("stream_docstats").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L), "short doc filtered in-stream")
      // identical numbers to the batch operator
      val batch = graft.ext.TextStats
        .withDocStats(Seq((1L, "a a the fox jumps")).toDF("doc_id", "text"))
        .select("quality_score").head.getDouble(0)
      assert(rows(0).getDouble(2) == batch)
    } finally q.stop()
  }

  test("DSIR model scores a stream per micro-batch, identical to batch scoring") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train ONCE on reference data (pool + target)...
    val pool = Seq((1L, "alpha beta gamma"), (2L, "zeta eta theta"))
      .toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha")).toDF("doc_id", "text")
    val model = graft.exec.Share.checkpoint(
      graft.ext.Importance.tokenLogRatios(pool, target))
    // ...apply to a STREAM the model never saw: scoreAgainst is a
    // broadcast join + per-batch roll-up, stateless, so it composes
    // inside foreachBatch (the maintainSnapshot posture)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = input.toDF.toDF("doc_id", "text").writeStream
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-dsir").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= graft.ext.Importance.scoreAgainst(batch, model)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }
      .start()
    try {
      input.addData((100L, "alpha beta alpha novel"), (101L, "zeta eta"))
      q.processAllAvailable()
      input.addData((102L, "alpha alpha alpha"))
      q.processAllAvailable()
      val streamed = collected.sortBy(_._1).toSeq
      val batchScored = graft.ext.Importance.scoreAgainst(
        Seq((100L, "alpha beta alpha novel"), (101L, "zeta eta"),
          (102L, "alpha alpha alpha")).toDF("doc_id", "text"), model)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(streamed == batchScored, "stream scoring must equal batch scoring")
      val byId = streamed.map(t => t._1 -> t._3).toMap
      assert(byId(100L) > byId(101L), "target-like stream doc outscores pool-like")
    } finally q.stop()
  }

  test("withValidation splits a stream into main and dead-letter paths") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.Checks
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    // the verdict is map-only, so both routes run from one stream
    val validated = Checks.withValidation(
      input.toDF.toDF("id", "flag", "v"), Seq(
        Checks.AcceptedValues("flag", Seq("A", "N")),
        Checks.NumericBounds("v", 0.0, 100.0)))
    def sink(df: org.apache.spark.sql.DataFrame, name: String) =
      df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"graft-ckpt-$name").toString)
        .outputMode("append").start()
    val qMain = sink(validated.filter(col("valid")), "stream_valid")
    val qDead = sink(validated.filter(!col("valid")), "stream_dead")
    try {
      input.addData((1L, "A", 10.0), (2L, "Z", 10.0), (3L, "N", 500.0),
        (4L, "Z", -1.0))
      qMain.processAllAvailable(); qDead.processAllAvailable()
      assert(spark.table("stream_valid").collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
      val dead = spark.table("stream_dead").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](3)).toMap
      assert(dead.keySet == Set(2L, 3L, 4L))
      assert(dead(2L) == Seq("accepted_values(flag)"))
      assert(dead(3L) == Seq("bounds(v)"))
      assert(dead(4L) == Seq("accepted_values(flag)", "bounds(v)"),
        "every broken constraint is audited, in check order")
    } finally { qMain.stop(); qDead.stop() }
  }

  test("heartbeatStream: silent type alerts once at its event-time deadline, live type stays quiet") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val streamed = EventStream.heartbeatStream(
      input.toDF.toDF("ts", "event_type"), silenceSeconds = 3600L)
    val q = streamed.writeStream
      .format("memory").queryName("stream_heartbeat")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-heartbeat").toString)
      .outputMode("append")
      .start()
    try {
      input.addData((ts("2026-01-01 10:00:00"), "a"),
        (ts("2026-01-01 10:05:00"), "a"), (ts("2026-01-01 10:00:00"), "b"))
      q.processAllAvailable()
      assert(spark.table("stream_heartbeat").count() == 0L,
        "no alert while the watermark is inside every deadline")
      // b keeps beating; the watermark (12:30 − 10 min) passes a's
      // 11:05 deadline → exactly one alert, for a
      input.addData((ts("2026-01-01 12:30:00"), "b"))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 12:31:00"), "b"))
      q.processAllAvailable()
      val alerts = spark.table("stream_heartbeat").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(alerts.toSeq == Seq(
        ("a", ts("2026-01-01 10:05:00").getTime * 1000L, 2L)))
    } finally q.stop()
  }

  test("heartbeatStream: backfill key whose deadline is already past the watermark does not kill the query") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val streamed = EventStream.heartbeatStream(
      input.toDF.toDF("ts", "event_type"), silenceSeconds = 3600L)
    val q = streamed.writeStream
      .format("memory").queryName("stream_heartbeat_backfill")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-heartbeat-bf").toString)
      .outputMode("append")
      .start()
    try {
      // batch 1: a quiet start — watermark lands at 10:55
      input.addData((ts("2026-01-01 11:05:00"), "live"))
      q.processAllAvailable()
      // batch 2: a backfilled key (12:00) arrives TOGETHER with a live
      // event (20:00). 12:00 is above the late-event watermark
      // (10:55), so the row reaches the state function — but the same
      // batch drives the watermark toward 19:50, far past the
      // backfill's natural deadline (13:00). An unclamped
      // setTimeoutTimestamp at/below the watermark throws and kills
      // the query; the clamp sets it just past the watermark instead.
      input.addData((ts("2026-01-01 12:00:00"), "back"),
        (ts("2026-01-01 20:00:00"), "live"))
      q.processAllAvailable()
      // batch 3+: the watermark advances — the clamped deadline must
      // both keep the query alive AND actually fire
      input.addData((ts("2026-01-01 21:30:00"), "live"))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 21:31:00"), "live"))
      q.processAllAvailable()
      assert(q.isActive, "clamped deadline must not kill the query")
      assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
      // the clamped deadline must actually FIRE once the watermark
      // advances: a SilenceAlert for the backfilled key, carrying its
      // true last-seen time (12:00) and count
      val alerts = spark.sql(
        "SELECT lastSeenUs, nSeen FROM stream_heartbeat_backfill " +
        "WHERE eventType = 'back'").collect()
      assert(alerts.length == 1,
        s"backfilled key must emit exactly one silence alert, got ${alerts.length}")
      assert(alerts(0).getLong(0) == ts("2026-01-01 12:00:00").getTime * 1000L,
        "alert must carry the backfilled key's true last-seen time")
      assert(alerts(0).getLong(1) == 1L)
      // a backfill row BELOW the late-event watermark is a different
      // story: the engine drops it before the state function (standard
      // late-data semantics), so it must produce no state and no alert
      input.addData((ts("2026-01-01 12:30:00"), "ancient"))
      q.processAllAvailable()
      input.addData((ts("2026-01-01 23:59:00"), "live"))
      q.processAllAvailable()
      assert(q.isActive)
      assert(spark.sql(
        "SELECT * FROM stream_heartbeat_backfill WHERE eventType = 'ancient'")
        .isEmpty, "late-dropped backfill row must not create heartbeat state")
    } finally q.stop()
  }

  test("streaming doc dedup keys on content digest and keeps the first copy") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val streamed = EventStream.dedupDocsStream(
      input.toDF.toDF("ts", "doc_id", "text"))
    val q = streamed.writeStream
      .format("memory").queryName("stream_doc_dedup")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-docdedup").toString)
      .outputMode("append")
      .start()
    try {
      input.addData(
        (ts("2026-01-01 12:00:00"), 1L, "alpha beta"),
        (ts("2026-01-01 12:01:00"), 2L, "alpha beta"),  // dup content, within watermark
        (ts("2026-01-01 12:02:00"), 3L, "gamma delta"))
      q.processAllAvailable()
      val rows = spark.table("stream_doc_dedup")
        .select("doc_id", "content_md5").collect()
      assert(rows.length == 2, "duplicate content within the horizon must be dropped")
      assert(rows.map(_.getLong(0)).toSet == Set(1L, 3L),
        "the FIRST-seen copy of each content survives")
      assert(rows.map(_.getString(1)).distinct.length == 2)
    } finally q.stop()
  }

  test("heavyHittersStream: bounded shard state, no heavy hitter ever missed") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val cap = 4
    val nShards = 8
    val streamed = EventStream.heavyHittersStream(
      input.toDF.toDF("text"), capacity = cap, shards = nShards)
    val q = streamed.writeStream
      .format("memory").queryName("stream_hh")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-hh").toString)
      .outputMode("update")
      .start()
    try {
      // two micro-batches: the MG state must carry across them
      val batch1 = Seq.fill(30)("the") ++ (1 to 40).map(i => s"w$i")
      val batch2 = Seq.fill(25)("the") ++ Seq.fill(20)("of") ++
        (41 to 80).map(i => s"w$i")
      input.addData(batch1.mkString(" "))
      q.processAllAvailable()
      input.addData(batch2.mkString(" "))
      q.processAllAvailable()
      val all = spark.table("stream_hh").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // latest summary per shard = the rows at its max shardTokens
      val latest = all.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val mx = rows.map(_._4).max
        rows.filter(_._4 == mx).toSeq
      }
      // per-shard summaries never exceed the capacity
      latest.groupBy(_._1).foreach { case (sh, rows) =>
        assert(rows.size <= cap, s"shard $sh summary exceeded capacity")
      }
      // brute force over the full stream
      val toks = (batch1 ++ batch2)
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.size.toLong
      val heavies = exact.collect {
        case (t, c) if c * (cap + 1) > n => t
      }.toSet
      assert(heavies.nonEmpty, "test needs at least one true heavy hitter")
      val kept = latest.map(_._2).toSet
      assert(heavies.subsetOf(kept),
        s"missed heavy hitters: ${heavies -- kept}")
      // counters are lower bounds and within the per-shard MG error
      latest.foreach { case (_, t, est, seen) =>
        assert(est <= exact(t), s"$t over-counted")
        assert(est >= exact(t) - seen / (cap + 1) - 1,
          s"$t under-counted past the MG bound")
      }
    } finally q.stop()
  }

  test("watermark drops late data and finalizes windows exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val streamed = EventStream.tumblingHourly(
      input.toDF.toDF("ts", "event_type", "value"))
    val q = streamed.writeStream
      .format("memory").queryName("stream_late")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-late").toString)
      .outputMode("append")
      .start()
    try {
      // two events in the 12:00 window
      input.addData((ts("2026-01-01 12:05:00"), "click", 1.0),
        (ts("2026-01-01 12:10:00"), "click", 2.0))
      q.processAllAvailable()
      // watermark advances to 13:00 — the 12:00 window finalizes + emits
      input.addData((ts("2026-01-01 14:00:00"), "click", 4.0))
      q.processAllAvailable()
      // late arrival for 12:00 — beyond the watermark, must be dropped
      input.addData((ts("2026-01-01 12:30:00"), "click", 8.0))
      q.processAllAvailable()

      val noon = spark.table("stream_late")
        .filter(col("window_start") === ts("2026-01-01 12:00:00")).collect()
      assert(noon.length == 1, "window must be emitted exactly once")
      assert(noon(0).getAs[Long]("n_events") == 2L,
        "the late event must not be counted")
      assert(noon(0).getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }

  test("stream-stream attribution join agrees with the batch join") {
    import spark.implicits._
    val events = EventStream.readEvents(spark, eventsDir)
    val streamed = EventStream.attributionJoin(
      events.where(col("event_type") === "click"),
      events.where(col("event_type") === "purchase"),
      horizonMinutes = 60L)
    val got = EventStream.runAvailableNow(spark, streamed, "stream_attrib")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(3), r.getDouble(4))).toSet
    // batch twin: plain inner join with the identical range condition
    Tables.register(spark, TestSpark.sfDir)
    val e = spark.table("events")
    val c = e.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("value").as("cv"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val want = p.join(c, col("user_id") === col("cu") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 60 MINUTES"))
      .select(col("event_id"), col("cts"), col("cv"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("stream-static enrichment joins broadcast dims without state") {
    import spark.implicits._
    val dim = Seq(("click", 0.5), ("purchase", 2.0)).toDF("event_type", "weight")
    val events = EventStream.readEvents(spark, eventsDir)
      .where(col("event_type").isin("click", "purchase", "view"))
    val got = EventStream.runAvailableNow(spark,
      EventStream.enrich(events, dim), "stream_enrich")
    // every event survives (left outer); known types carry the weight,
    // unknown types carry null — no row is dropped by enrichment
    Tables.register(spark, TestSpark.sfDir)
    val want = spark.table("events")
      .where(col("event_type").isin("click", "purchase", "view"))
    assert(got.count() == want.count())
    assert(got.where(col("event_type") === "click")
      .select("weight").distinct().collect().map(_.getDouble(0)).toSeq == Seq(0.5))
    assert(got.where(col("event_type") === "view")
      .filter(col("weight").isNotNull).count() == 0L)
  }

  test("stateful sessionizer emits closed sessions") {
    implicit val s = spark
    val events = EventStream.readEvents(spark, eventsDir)
    val sessions = EventStream.sessionizeStream(events)
    val q = sessions.writeStream
      .format("memory")
      .queryName("stream_sessions")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-sessions").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    // The processing-time timeout schedules one more batch after the
    // AvailableNow drain; stop the query so it can't race JVM teardown.
    q.stop()
    val got = spark.table("stream_sessions").collect()
    // sessions whose successor batch never arrives stay open in state;
    // with the whole file in one batch, all intermediate sessions close.
    assert(got.forall(_.getAs[Long]("nEvents") > 0))
  }

  test("outlierGateStream verdicts equal the batch cluster-outlier decision") {
    import graft.ext.Similarity
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    // the trained model: the batch pipeline's own centroids + moments
    val nc = Similarity.normalized(emb)
    var cents = Similarity.ivfCentroids(nc, 16)
    for (_ <- 0 until 2) cents = Similarity.ivfRefineOnce(nc, cents)
    val assigned = Similarity.kmeansAssign(emb, nlist = 16, refine = 2)
    val stats = Similarity.clusterStatsFrom(assigned)
    // stream the same vectors through the stateless gate
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    input.addData(rows: _*)
    val gated = EventStream.outlierGateStream(
      input.toDF().toDF("vec_id", "embedding"), cents, stats, zThresh = 1.5)
    val q = gated.writeStream
      .format("memory").queryName("stream_outlier_gate")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ckpt-outlier").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    q.stop()
    val got = spark.table("stream_outlier_gate").collect()
    assert(got.length == rows.length, "every ingested vector gets a verdict")
    // rejected (id, z) pairs ≡ the batch outlier relation
    val rejected = got.filterNot(_.getBoolean(4))
      .map(r => (r.getLong(0), r.getDouble(3))).toSet
    val batchOutliers = Similarity.clusterOutliersFrom(assigned, zThresh = 1.5)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(rejected == batchOutliers,
      "stream rejections must equal the batch outlier set")
    assert(batchOutliers.nonEmpty, "fixture must exercise the reject path")
    // cluster assignment agrees vector-for-vector with the batch assigner
    val gotAssign = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchAssign = assigned.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotAssign == batchAssign)
  }
}
