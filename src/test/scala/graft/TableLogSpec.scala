package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Merge, TableLog}

/** Specs for the snapshot-isolated local table format (commit log +
  * copy-on-write merge + history-preserving compaction + time
  * travel). The oracle-checked q_table_history covers the fixture
  * lifecycle; these pin the format's own contracts.
  */
class TableLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tablelog").toString

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
    .toDF("id", "tag", "v")

  test("lifecycle: init/append/merge/compact with correct history") {
    val dir = freshDir()
    TableLog.init(base, dir)
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    val changes = Seq(
      (2L, null.asInstanceOf[String], 0.0, Merge.Delete), // drop id 2
      (3L, "c2", 33.0, Merge.Upsert),                     // replace id 3
      (6L, "f", 60.0, Merge.Upsert))                      // insert id 6
      .toDF("id", "tag", "v", Merge.OpCol)
    TableLog.merge(changes, dir, "id")
    TableLog.compact(spark, dir)
    val hist = TableLog.history(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(4)))
    assert(hist.toSeq == Seq(
      (0, "init", 4L), (1, "append", 1L), (2, "merge", 5L),
      (3, "compact", 0L)))
    val now = TableLog.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(now.toSeq == Seq((1L, "a", 10.0), (3L, "c2", 33.0),
      (4L, "d", 40.0), (5L, "e", 50.0), (6L, "f", 60.0)))
  }

  test("time travel: every historical version stays readable verbatim") {
    val dir = freshDir()
    TableLog.init(base, dir)
    val v0 = TableLog.read(spark, dir).orderBy("id").collect().toSeq
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    TableLog.merge(Seq((1L, "x", 0.0, Merge.Delete))
      .toDF("id", "tag", "v", Merge.OpCol), dir, "id")
    TableLog.compact(spark, dir)
    // the v0 snapshot is byte-stable across later rewrites
    assert(TableLog.read(spark, dir, Some(0)).orderBy("id")
      .collect().toSeq == v0)
    assert(TableLog.read(spark, dir, Some(1)).count() == 5)
    assert(TableLog.read(spark, dir, Some(2)).count() == 4)
    assert(TableLog.read(spark, dir, Some(3)).count() == 4)
    // compacted content ≡ pre-compaction content
    assert(TableLog.read(spark, dir, Some(3)).orderBy("id").collect().toSeq
      == TableLog.read(spark, dir, Some(2)).orderBy("id").collect().toSeq)
  }

  test("compaction reduces the live file count without touching rows") {
    val dir = freshDir()
    TableLog.init(base.repartition(4), dir)
    TableLog.append(base.withColumn("id", col("id") + 10).repartition(4),
      dir)
    val before = TableLog.read(spark, dir).inputFiles.length
    assert(before >= 2, "fixture must start multi-file")
    TableLog.compact(spark, dir, targetFiles = 1)
    assert(TableLog.read(spark, dir).inputFiles.length == 1)
    assert(TableLog.read(spark, dir).count() == 8)
  }

  test("the log is the source of truth — orphan data files are invisible") {
    val dir = freshDir()
    TableLog.init(base, dir)
    // simulate a crashed writer: a data file no commit references
    Seq((99L, "zz", 9.9)).toDF("id", "tag", "v")
      .coalesce(1).write.parquet(dir + "/orphan")
    val orphan = new java.io.File(dir + "/orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(orphan.renameTo(new java.io.File(dir + "/data/zzz-orphan.parquet")))
    assert(TableLog.read(spark, dir).count() == 4,
      "reads must resolve from the log, never from a data-dir listing")
  }

  test("vacuum deletes only pre-retention files and logs itself") {
    val dir = freshDir()
    TableLog.init(base, dir)
    TableLog.merge(Seq((1L, "x", 11.0, Merge.Upsert))
      .toDF("id", "tag", "v", Merge.OpCol), dir, "id") // v1 rewrites
    TableLog.append(Seq((9L, "i", 90.0)).toDF("id", "tag", "v"), dir)
    val v2Rows = TableLog.read(spark, dir, Some(2)).orderBy("id")
      .collect().toSeq
    val deleted = TableLog.vacuum(dir, retainFrom = 1)
    assert(deleted >= 1, "v0's rewritten files must be reclaimed")
    // retained versions still read verbatim; history records the vacuum
    assert(TableLog.read(spark, dir, Some(2)).orderBy("id")
      .collect().toSeq == v2Rows)
    assert(TableLog.read(spark, dir, Some(1)).count() == 4)
    val hist = TableLog.history(spark, dir).collect()
    assert(hist.last.getString(1) == "vacuum" &&
      hist.last.getInt(3) == deleted)
    // pre-retention version is gone — that is vacuum's contract
    intercept[Exception](TableLog.read(spark, dir, Some(0)).collect())
  }

  test("appendStream: micro-batches land as append commits") {
    val dir = freshDir()
    val inDir = java.nio.file.Files
      .createTempDirectory("graft-tablelog-in").toString
    val schema = base.schema
    def run(sub: String, part: org.apache.spark.sql.DataFrame): Unit = {
      part.coalesce(1).write.parquet(s"$inDir/$sub")
      val q = TableLog.appendStream(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(s"$inDir/$sub"),
        dir,
        java.nio.file.Files
          .createTempDirectory(s"graft-ckpt-tl-$sub").toString)
      q.awaitTermination(120000L)
    }
    run("r1", base)
    run("r2", base.withColumn("id", col("id") + 10))
    assert(TableLog.read(spark, dir).count() == 8)
    val ops = TableLog.history(spark, dir).collect().map(_.getString(1))
    assert(ops.head == "init" && ops.tail.forall(_ == "append"))
  }

  test("appendStreamCompacting: policy compacts at the bound, history preserved") {
    val dir = freshDir() + "/tbl"
    val inDir = java.nio.file.Files
      .createTempDirectory("graft-tlc-in").toString
    val schema = base.schema
    // 4 one-file batches, maxLiveFiles=2: live counts run 1,2,3→compact,2
    (0 to 3).foreach { r =>
      base.withColumn("id", col("id") + lit(r * 10L))
        .coalesce(1).write.parquet(s"$inDir/b$r")
      // distinct modification times keep the source's oldest-first
      // file order deterministic for the per-version row sets below
      Thread.sleep(5L)
    }
    val q = TableLog.appendStreamCompacting(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(inDir),
      dir,
      java.nio.file.Files.createTempDirectory("graft-ckpt-tlc").toString,
      maxLiveFiles = 2)
    q.awaitTermination(120000L)
    val hist = TableLog.history(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(hist.toSeq == Seq(
      (0, "init", 1, 0), (1, "append", 1, 0), (2, "append", 1, 0),
      (3, "compact", 1, 3), (4, "append", 1, 0)))
    // content: nothing lost, nothing duplicated, across the rewrite
    assert(TableLog.read(spark, dir).count() == 16)
    assert(TableLog.read(spark, dir).select("id").distinct().count() == 16)
    // reader cost bounded: 2 live files at the end, never more than 3
    assert(TableLog.liveFileCount(dir) == 2)
    // every pre-compaction version still readable (history-preserving)
    assert((0 to 4).map(v =>
      TableLog.read(spark, dir, Some(v)).count()) == Seq(4, 8, 12, 12, 16))
  }

  test("snapshot isolation: readers vs a concurrent MERGE writer (r12 task 7)") {
    val dir = freshDir()
    val n = 100
    def state(c: Int) = spark.range(1, n + 1)
      .select(col("id"), lit(c.toDouble).as("v"), lit("t").as("tag"))
    TableLog.init(state(0), dir)
    // reader A RESOLVES its snapshot (the v0 file list) before any
    // writer runs — copy-on-write merges must never invalidate it
    val pinned = TableLog.read(spark, dir)
    val writer = new Thread(() => {
      for (c <- 1 to 4)
        TableLog.merge(state(c).withColumn("op", lit(Merge.Upsert)), dir, "id")
    })
    writer.start()
    // concurrent readers: every read must observe a WHOLE version —
    // all n rows carrying one constant v (sum divisible by n, count
    // exactly n) — never a mix of two versions' files. The commit is
    // an atomic log rename over immutable files, so a torn read here
    // is a format bug, not scheduling luck.
    val seen = scala.collection.mutable.Set[Double]()
    while (writer.isAlive) {
      val r = TableLog.read(spark, dir)
        .agg(count(lit(1)), sum(col("v"))).collect().head
      assert(r.getLong(0) == n.toLong, "reader saw a partial version")
      val total = r.getDouble(1)
      assert(total % n == 0, s"reader saw mixed versions: sum $total")
      seen += total / n
    }
    writer.join()
    // the pinned pre-writer snapshot still reads the v0 content
    val pinnedRows = pinned.agg(count(lit(1)), sum(col("v"))).collect().head
    assert(pinnedRows.getLong(0) == n.toLong && pinnedRows.getDouble(1) == 0.0,
      "copy-on-write merge must not disturb a resolved reader")
    // post-writer state and time travel to every intermediate version
    assert(TableLog.read(spark, dir).agg(sum("v")).collect().head
      .getDouble(0) == 4.0 * n)
    for (c <- 0 to 4)
      assert(TableLog.read(spark, dir, Some(c)).agg(sum("v"))
        .collect().head.getDouble(0) == c.toDouble * n, s"version $c")
    assert(seen.subsetOf((0 to 4).map(_.toDouble).toSet))
  }

  test("the whole format runs against a non-file Hadoop FS scheme (r13 task 2)") {
    // Every TableLog filesystem touch (log list/read, commit publish,
    // data-file placement, vacuum delete) resolves the FS from the
    // table dir's OWN URI scheme — so the same code that passed the
    // local-path suites above must run verbatim against a registered
    // connector scheme. MockDfs is the sandbox stand-in for hdfs/s3a
    // (the SourceSinkSpec trick); if any code path had kept a
    // java.io.File assumption it would throw or silently read an
    // empty local dir here.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockdfs.impl", classOf[MockDfs].getName)
    val dir = s"mockdfs://${freshDir()}/tbl"
    TableLog.init(base, dir)
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    TableLog.merge(Seq(
      (2L, null.asInstanceOf[String], 0.0, Merge.Delete),
      (6L, "f", 60.0, Merge.Upsert)).toDF("id", "tag", "v", Merge.OpCol),
      dir, "id")
    TableLog.compact(spark, dir)
    // reads must route through the registered scheme, not leak to file:
    val now = TableLog.read(spark, dir)
    assert(now.inputFiles.nonEmpty &&
      now.inputFiles.forall(_.startsWith("mockdfs:")),
      s"data files must live on the table's scheme, got ${now.inputFiles.headOption}")
    assert(now.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L))
    // time travel and history work off the scheme'd log
    assert(TableLog.read(spark, dir, Some(0)).count() == 4)
    assert(TableLog.history(spark, dir).collect().map(_.getString(1)).toSeq
      == Seq("init", "append", "merge", "compact"))
    // vacuum's deletes go through the scheme'd FS too
    val deleted = TableLog.vacuum(dir, retainFrom = 2)
    assert(deleted >= 1)
    intercept[Exception](TableLog.read(spark, dir, Some(0)).collect())
    assert(TableLog.read(spark, dir, Some(2)).count() == 5)
  }

  test("snapshot isolation holds on the non-file scheme (concurrent reader)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockdfs.impl", classOf[MockDfs].getName)
    val dir = s"mockdfs://${freshDir()}/tbl"
    val n = 50
    def state(c: Int) = spark.range(1, n + 1)
      .select(col("id"), lit(c.toDouble).as("v"), lit("t").as("tag"))
    TableLog.init(state(0), dir)
    val writer = new Thread(() => {
      for (c <- 1 to 3)
        TableLog.merge(state(c).withColumn("op", lit(Merge.Upsert)), dir, "id")
    })
    writer.start()
    while (writer.isAlive) {
      val r = TableLog.read(spark, dir)
        .agg(count(lit(1)), sum(col("v"))).collect().head
      assert(r.getLong(0) == n.toLong, "reader saw a partial version")
      assert(r.getDouble(1) % n == 0,
        s"reader saw mixed versions: sum ${r.getDouble(1)}")
    }
    writer.join()
    for (c <- 0 to 3)
      assert(TableLog.read(spark, dir, Some(c)).agg(sum("v"))
        .collect().head.getDouble(0) == c.toDouble * n, s"version $c")
  }

  test("data skipping: commit records carry footer stats; readWhere prunes by them (r14 task 1)") {
    val dir = freshDir()
    // four appends with DISJOINT id ranges, one file each — file
    // boundaries are exact, so the pruned set is fully determined
    def slice(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 10)
        .select(col("id"), concat(lit("t"), format_string("%03d", col("id")))
          .as("tag"), (col("id") * 1.5).as("v"))
        .coalesce(1)
    TableLog.init(slice(0), dir)
    TableLog.append(slice(10), dir)
    TableLog.append(slice(20), dir)
    TableLog.append(slice(30), dir)
    // stats recorded per commit, with the right bounds
    val cs = TableLog.commits(dir)
    assert(cs.forall(c => c.add.forall(f => c.stats.contains(f))),
      "every added file must carry stats")
    val v0 = cs.head; val f0 = v0.stats(v0.add.head)
    assert(f0.rows == 10L)
    assert(f0.cols("id").min.contains(0L) && f0.cols("id").max.contains(9L))
    assert(f0.cols("tag").min.contains("t000") &&
      f0.cols("tag").max.contains("t009"))
    assert(f0.cols("v").max.contains(13.5))
    assert(f0.cols.forall(_._2.nulls.contains(0L)))

    def scanned(filter: String): Int =
      TableLog.readWhere(spark, dir, filter).inputFiles.length
    def identical(filter: String): Unit = {
      val pruned = TableLog.readWhere(spark, dir, filter)
        .orderBy("id").collect().toSeq
      val full = TableLog.read(spark, dir).where(expr(filter))
        .orderBy("id").collect().toSeq
      assert(pruned == full, s"pruned read diverged for: $filter")
    }
    // range predicates touch exactly the overlapping files
    assert(scanned("id >= 30") == 1); identical("id >= 30")
    assert(scanned("id BETWEEN 8 AND 12") == 2); identical("id BETWEEN 8 AND 12")
    assert(scanned("id = 25") == 1); identical("id = 25")
    assert(scanned("id IN (5, 35)") == 2); identical("id IN (5, 35)")
    assert(scanned("id = 5 OR id = 25") == 2); identical("id = 5 OR id = 25")
    assert(scanned("NOT (id < 30)") == 1); identical("NOT (id < 30)")
    // string zone maps prune too
    assert(scanned("tag > 't029'") == 1); identical("tag > 't029'")
    assert(scanned("tag = 't015'") == 1); identical("tag = 't015'")
    // double column
    assert(scanned("v < 3.0") == 1); identical("v < 3.0")
    // null-count pruning: no file has nulls
    assert(scanned("tag IS NULL") == 0); identical("tag IS NULL")
    // everything pruned → empty frame, right schema, zero files
    val none = TableLog.readWhere(spark, dir, "id > 1000")
    assert(none.inputFiles.isEmpty && none.count() == 0)
    assert(none.schema.fieldNames.toSeq == Seq("id", "tag", "v"))
    // unmodeled shapes fall back to every file — and stay correct
    assert(scanned("id % 7 = 3") == 4); identical("id % 7 = 3")
    // compaction rewrites carry fresh stats for the new files
    TableLog.compact(spark, dir, targetFiles = 2)
    val cc = TableLog.commits(dir).last
    assert(cc.op == "compact" && cc.add.forall(f => cc.stats.contains(f)))
    identical("id >= 30")
    // time travel prunes against the asOf version's own live set
    assert(TableLog.readWhere(spark, dir, "id >= 30", asOf = Some(2))
      .count() == 0)
    assert(TableLog.readWhere(spark, dir, "id >= 10", asOf = Some(1))
      .count() == 10)
  }

  test("data skipping: pre-stats (r14-format) commit records read fine and never prune") {
    val dir = freshDir()
    TableLog.init(base.coalesce(1), dir)
    TableLog.append(Seq((50L, "z", 5.0)).toDF("id", "tag", "v"), dir)
    // strip the stats field from v0's record — a table written by the
    // pre-r15 code
    val log = new java.io.File(dir, "_log")
    val v0 = new java.io.File(log, "v00000000.json")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(java.nio.file.Files.readString(v0.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("stats")
    java.nio.file.Files.writeString(v0.toPath, m.writeValueAsString(node))
    // the rewrite bypassed Hadoop's checksummed local FS — drop the
    // stale .crc sidecar so the doctored "old-format" record reads
    new java.io.File(log, ".v00000000.json.crc").delete()
    assert(TableLog.commits(dir).head.stats.isEmpty)
    // a filter that would prune v0's file by range CANNOT (no stats),
    // but v1's file still prunes; results stay exact either way
    val pruned = TableLog.readWhere(spark, dir, "id > 100")
    assert(pruned.inputFiles.length == 1,
      "the stats-less file must be kept, the stats-bearing one pruned")
    assert(pruned.count() == 0)
    assert(TableLog.readWhere(spark, dir, "id <= 4").collect().length == 4)
  }

  test("schema evolution: explicit mergeSchema appends widen; reads, pruning and travel stay exact (r14 task 7)") {
    val dir = freshDir()
    TableLog.init(base.coalesce(1), dir) // (id, tag, v)
    // a drifted producer without the flag fails loudly
    intercept[IllegalArgumentException](TableLog.append(
      Seq((9L, "x", 9.0, "EX")).toDF("id", "tag", "v", "extra"), dir))
    // widening append under the flag
    TableLog.append(Seq((9L, "x", 9.0, "EX"))
      .toDF("id", "tag", "v", "extra"), dir, mergeSchema = true)
    val now = TableLog.read(spark, dir)
    assert(now.columns.toSeq == Seq("id", "tag", "v", "extra"))
    assert(now.where(col("extra").isNull).count() == 4, "old rows read NULL")
    assert(now.where(col("extra") === "EX").count() == 1)
    // subset append under the flag: omitted columns land as NULL
    TableLog.append(Seq((10L, "y")).toDF("id", "tag"), dir,
      mergeSchema = true)
    assert(TableLog.read(spark, dir)
      .where(col("id") === 10L && col("v").isNull).count() == 1)
    // time travel keeps each version's own schema
    assert(TableLog.read(spark, dir, Some(0)).columns.toSeq ==
      Seq("id", "tag", "v"))
    // logical column set from log metadata alone
    assert(TableLog.tableColumns(dir) == Seq("id", "tag", "v", "extra"))
    // pruned reads on the evolved table: full schema, exact content
    val pw = TableLog.readWhere(spark, dir, "id >= 9")
    assert(pw.columns.toSeq == Seq("id", "tag", "v", "extra"))
    assert(pw.orderBy("id").collect().toSeq ==
      TableLog.read(spark, dir).where(expr("id >= 9"))
        .orderBy("id").collect().toSeq)
    // a predicate on the YOUNG column: files predating it have no
    // stats for it and stay (conservative), the stats-bearing file
    // can still prune — and content stays exact either way
    val pz = TableLog.readWhere(spark, dir, "extra = 'ZZ'")
    assert(pz.count() == 0)
    assert(!pz.inputFiles.exists(_.contains("v00000001")),
      "the file whose extra-range excludes 'ZZ' must be pruned")
    // compaction normalizes the schema back to ONE uniform list
    TableLog.compact(spark, dir)
    assert(TableLog.commits(dir).last.columns ==
      Seq("id", "tag", "v", "extra"))
    assert(TableLog.read(spark, dir).columns.toSeq ==
      Seq("id", "tag", "v", "extra"))
    assert(TableLog.read(spark, dir).count() == 6)
  }

  test("conditional-put-only store: full lifecycle without atomic rename (r14 task 2)") {
    // CondPutFs renames ALWAYS clobber and only create-if-absent is
    // atomic — the object-store worst case. The whole protocol must
    // run verbatim because publish's mutual exclusion now rides
    // create(overwrite=false), never rename.
    spark.sparkContext.hadoopConfiguration
      .set("fs.condput.impl", classOf[CondPutFs].getName)
    val dir = s"condput://${freshDir()}/tbl"
    TableLog.init(base, dir)
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    TableLog.merge(Seq(
      (2L, null.asInstanceOf[String], 0.0, Merge.Delete),
      (6L, "f", 60.0, Merge.Upsert)).toDF("id", "tag", "v", Merge.OpCol),
      dir, "id")
    TableLog.compact(spark, dir)
    val now = TableLog.read(spark, dir)
    assert(now.inputFiles.nonEmpty &&
      now.inputFiles.forall(_.startsWith("condput:")))
    assert(now.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L))
    assert(TableLog.read(spark, dir, Some(0)).count() == 4)
    // crash-orphan: an unreferenced data file stays invisible
    Seq((99L, "zz", 9.9)).toDF("id", "tag", "v")
      .coalesce(1).write.parquet(s"$dir/orphan")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/orphan"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(orphan,
      new org.apache.hadoop.fs.Path(s"$dir/data/zzz-orphan.parquet")))
    assert(TableLog.read(spark, dir).count() == 5)
    assert(TableLog.vacuum(dir, retainFrom = 3) >= 1)
    intercept[Exception](TableLog.read(spark, dir, Some(0)).collect())
  }

  test("conditional-put-only store: racing writers — one winner per version, no lost update") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.condput.impl", classOf[CondPutFs].getName)
    val dir = s"condput://${freshDir()}/tbl"
    TableLog.init(base, dir)
    // 3 writers x 3 appends, optimistic retry on the publish error —
    // the client loop a real concurrent ingester runs. Data-file
    // names are writer-unique, so a loser's files are orphans; the
    // winner's data can never be clobbered even though this store's
    // rename replaces silently.
    val perWriter = 3
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 3).map { w =>
      new Thread(() => {
        for (i <- 0 until perWriter) {
          val row = Seq((100L + w * 10 + i, s"w$w-$i", 1.0))
            .toDF("id", "tag", "v")
          var done = false; var tries = 0
          while (!done && tries < 60) {
            try { TableLog.append(row, dir); done = true }
            catch { case _: Throwable =>
              failures.incrementAndGet(); tries += 1; Thread.sleep(20L)
            }
          }
          assert(done, s"writer $w could not commit after $tries retries")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every acknowledged append is present EXACTLY once, plus base
    val ids = TableLog.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size == ids.distinct.size, "duplicated rows — lost-update corruption")
    assert(ids.toSet == (base.collect().map(_.getLong(0)).toSet ++
      (for (w <- 0 until 3; i <- 0 until perWriter) yield 100L + w * 10 + i)))
    // history is a gapless version chain with one commit per version
    val hist = TableLog.history(spark, dir).collect().map(_.getInt(0)).toSeq
    assert(hist == (0 to 9), s"expected versions 0..9, got $hist")
  }

  test("guards: double init, missing table, unknown version, commit race") {
    val dir = freshDir()
    intercept[RuntimeException](TableLog.read(spark, dir)) // no table
    TableLog.init(base, dir)
    intercept[IllegalArgumentException](TableLog.init(base, dir))
    intercept[IllegalArgumentException](
      TableLog.read(spark, dir, Some(7))) // version never committed
  }

  // The live data files at `asOf`, folded from the log in add order:
  // the file list a parquet-inference reference read starts from.
  private def liveFiles(dir: String, asOf: Option[Int] = None): Seq[String] = {
    val live = scala.collection.mutable.LinkedHashSet[String]()
    TableLog.commits(dir).filter(c => asOf.forall(c.version <= _))
      .foreach { c => live ++= c.add; live --= c.remove }
    live.toSeq.map(n => s"$dir/data/$n")
  }

  // Rows by `id`; Row equality compares binary cells by content.
  private def rowsById(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.sortBy(_.getAs[Long]("id"))

  // The log-recorded read against parquet inference over the same files.
  private def assertInferred(dir: String, asOf: Option[Int] = None,
      mergeSchema: Boolean = false): Unit = {
    val got = TableLog.read(spark, dir, asOf)
    val r = if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    val ref = r.parquet(liveFiles(dir, asOf): _*)
    assert(got.schema == ref.schema, s"schema at $asOf")
    assert(rowsById(got) == rowsById(ref), s"rows at $asOf")
  }

  test("recorded schema: every read equals parquet inference over its live files") {
    val dir = freshDir()
    TableLog.init(base.repartition(2), dir)
    assertInferred(dir)
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    assertInferred(dir)
    TableLog.merge(Seq((1L, "x", 0.0, Merge.Delete), (6L, "f", 60.0, Merge.Upsert))
      .toDF("id", "tag", "v", Merge.OpCol), dir, "id")
    assertInferred(dir)
    TableLog.compact(spark, dir)
    assertInferred(dir)
    (0 to 2).foreach(v => assertInferred(dir, Some(v)))
    // an evolved table: widening and subset appends under the flag
    val ev = freshDir()
    TableLog.init(base.coalesce(1), ev)
    TableLog.append(Seq((9L, "x", 9.0, "EX")).toDF("id", "tag", "v", "extra"),
      ev, mergeSchema = true)
    TableLog.append(Seq((10L, "y")).toDF("id", "tag"), ev, mergeSchema = true)
    assertInferred(ev, mergeSchema = true)
    assertInferred(ev, Some(1), mergeSchema = true)
    TableLog.compact(spark, ev)
    assertInferred(ev)
    // a type matrix: every Spark type a table column can carry
    val matrix = spark.range(0, 6).selectExpr(
      "id", "CAST(id AS TINYINT) AS c_tinyint",
      "CAST(id AS SMALLINT) AS c_smallint", "CAST(id AS INT) AS c_int",
      "CAST(id AS FLOAT) / 3 AS c_float", "CAST(id AS DOUBLE) / 3 AS c_double",
      "CAST(id / 3 AS DECIMAL(10,2)) AS c_dec10",
      "CAST(id * 1e20 AS DECIMAL(38,1)) AS c_dec38",
      "id % 2 = 0 AS c_boolean", "CAST(id AS STRING) AS c_string",
      "CAST(CAST(id AS STRING) AS BINARY) AS c_binary",
      "DATE_ADD(DATE'2024-02-28', CAST(id AS INT)) AS c_date",
      "TIMESTAMP'2024-02-28 12:00:00' + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id) AS c_ts",
      "TIMESTAMP_NTZ'2024-02-28 12:00:00' + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id) AS c_ts_ntz",
      "ARRAY(id, NULL) AS c_array", "MAP(CAST(id AS STRING), id) AS c_map",
      "NAMED_STRUCT('a', id, 'b', ARRAY(CAST(id AS STRING))) AS c_struct",
      "CAST(CAST(id AS STRING) AS CHAR(3)) AS c_char",
      "CAST(CAST(id AS STRING) AS VARCHAR(5)) AS c_varchar")
    val mt = freshDir()
    TableLog.init(matrix.repartition(2), mt)
    assert(TableLog.read(spark, mt).columns.length == 19)
    assertInferred(mt)
  }

  test("recorded schema: building a read starts no Spark job") {
    import TestSpark.jobsOf
    val dir = freshDir()
    TableLog.init(base.repartition(2), dir)
    TableLog.append(Seq((5L, "e", 50.0)).toDF("id", "tag", "v"), dir)
    assert(jobsOf(TableLog.read(spark, dir)) == 0, "current version")
    assert(jobsOf(TableLog.read(spark, dir, Some(0))) == 0, "older version")
    var kept: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { kept = TableLog.readWhere(spark, dir, "id >= 5") } == 0,
      "readWhere keeping a file")
    assert(kept.inputFiles.length == 1 && kept.count() == 1)
    var none: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { none = TableLog.readWhere(spark, dir, "id > 1000") } == 0,
      "readWhere pruning every file")
    assert(none.inputFiles.isEmpty && none.count() == 0 &&
      none.schema == TableLog.read(spark, dir).schema)
    var asOf: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { asOf = graft.exec.TableLogSql.select(spark,
      "SELECT count(*) FROM t FOR VERSION AS OF 0", Map("t" -> dir)) } == 0,
      "FOR VERSION AS OF select")
    assert(asOf.collect().head.getLong(0) == 4L)
  }

  test("recorded schema: records from older code read the same, job-free") {
    import TestSpark.jobsOf
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // "columns": the previous record format; neither field: pre-r15
    // (which had no stats either)
    for (format <- Seq("columns", "pre-r15")) {
      val dir = freshDir()
      TableLog.init(base.coalesce(1), dir)
      TableLog.append(Seq((9L, "x", 9.0, "EX")).toDF("id", "tag", "v", "extra"),
        dir, mergeSchema = true)
      def reads = Seq(TableLog.read(spark, dir), TableLog.read(spark, dir, Some(0)),
        TableLog.readWhere(spark, dir, "id >= 4"))
      val want = reads.map(df => (df.schema, rowsById(df)))
      val log = new java.io.File(dir, "_log")
      log.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
        val node = m.readTree(java.nio.file.Files.readString(f.toPath))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val cols = TableLog.commits(dir).find(c => f.getName == f"v${c.version}%08d.json")
          .get.columns
        node.remove("schema")
        if (format == "columns") {
          val arr = node.putArray("columns"); cols.foreach(arr.add)
        } else node.remove("stats")
        java.nio.file.Files.writeString(f.toPath, m.writeValueAsString(node))
        new java.io.File(log, s".${f.getName}.crc").delete()
      }
      assert(log.listFiles().filter(_.getName.endsWith(".json")).forall(f =>
        !java.nio.file.Files.readString(f.toPath).contains("\"schema\"")))
      var got: Seq[org.apache.spark.sql.DataFrame] = Nil
      assert(jobsOf { got = reads } == 0, s"$format records")
      assert(got.map(df => (df.schema, rowsById(df))) == want, s"$format records")
    }
  }

  test("recorded schema: a retyped column fails the read when it is built") {
    val dir = freshDir()
    TableLog.init(base.coalesce(1), dir) // v is double
    TableLog.append(Seq((9L, "x", "nine")).toDF("id", "tag", "V"), dir,
      mergeSchema = true)
    val e = intercept[IllegalArgumentException](TableLog.read(spark, dir))
    assert(e.getMessage.contains("column v is double") &&
      e.getMessage.contains("but string"), e.getMessage)
    // each version alone is still one type
    assert(TableLog.read(spark, dir, Some(0)).count() == 4)
  }
}
