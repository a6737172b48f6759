package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.{Bucketing, Merge, Sharding, TableLog}
import Common._

/** Table formats and storage: TableLog history, MERGE, compaction
  * and skipping, sharding, bucketing, and CSV/JSON sources and sinks.
  */
object TableFormatQueries extends QueryFamily {

  private val shardCount = 8
  // snapshot-diff synthetic edit moduli (single-sourced with the oracle)
  private val snapRemovedMod = 97L
  private val snapChangedMod = 89L
  private val snapAddedMod = 101L
  private val snapAddedOffset = 100000000L
  // compaction planner: target output-file size for the manifest bins
  private val compactionTargetBytes = 8000L
  // reshard plan: the 8→10 grow with 32 vnodes/shard
  private val reshardOld = 8
  private val reshardNew = 10
  private val reshardVnodes = 32
  private val reshardSalt = "shard"
  private val bloomSkipShards = 8
  private val bloomSkipMBits = 1L << 17
  private val bloomSkipK = 5
  private val bloomSkipProbeDoc = 7L
  // skipping report layout/probe sizing (shared with the oracle twin)
  private val skipFiles = 64
  private val skipProbes = 50

  private[graft] def bloomSkipDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "bloomskip", sfDir) { d =>
      Sharding.writeShards(
        s.table("documents").withColumn("content_key", md5(col("text"))),
        s"$d/data", numShards = bloomSkipShards)
      Sharding.writeBloomSkipIndex(s, s"$d/data", s"$d/index",
        "content_key", bloomSkipMBits, bloomSkipK)
    }

  // CSV/JSON staged copies of the small dim tables — the two mundane
  // text ingestion formats a pipeline tool meets first. Written once
  // per (format, sfDir) FROM the parquet source, so the q_*_source
  // queries exercise the full text decode path (quoting, header,
  // number parsing) while the DuckDB oracle runs on the parquet
  // originals: a value mismatch means the round-trip corrupted data.
  // Explicit schemas on read, never inferSchema — inference is a
  // whole extra pass over the data at 100 TB.
  private def csvSourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "csvsrc", sfDir) { d =>
      s.table("nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$d/nation")
    }

  private def jsonSourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "jsonsrc", sfDir) { d =>
      // Jackson emits shortest-round-trip doubles, so s_acctbal
      // survives the text hop bit-exactly.
      s.table("supplier").coalesce(1).write.mode("overwrite")
        .json(s"$d/supplier")
    }

  // The WRITE half of the text-format surface: customer staged once
  // through the ENGINE'S OWN pinned-option CSV sink
  // (graft.sources.FileSinks) — where csvSourceDir exercises only the
  // read path on a Spark-default-written file, this exercises
  // writeCsv ∘ readCsv as a pair; the DuckDB oracle still runs on the
  // parquet original, so hash-green proves the full round trip
  // (RFC-4180 quoting, null sentinel, double text encoding) lossless.
  private def csvSinkDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "csvsink", sfDir) { d =>
      graft.sources.FileSinks.writeCsv(s.table("customer"), s"$d/customer")
    }

  // Deterministic TableLog demo: a 4-commit history over the orders
  // payload (init / append / copy-on-write merge / compaction), the
  // fixture q_table_history time-travels. Every version's row set is
  // a pure function of `orders`, so the oracle reconstructs each
  // state relationally.
  private[graft] def tableLogDemoDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tablelog", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      TableLog.init(o.filter(col("o_orderkey") % 4 === 0), d)
      TableLog.append(o.filter(col("o_orderkey") % 4 === 1), d)
      val changes = o.filter(col("o_orderkey") % 8 === 0)
        .withColumn("op", lit("delete"))
        .unionByName(o.filter(col("o_orderkey") % 8 === 4)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("op", lit("upsert")))
        .unionByName(o.filter(col("o_orderkey") % 4 === 2)
          .withColumn("op", lit("upsert")))
      TableLog.merge(changes, d, "o_orderkey")
      TableLog.compact(s, d, targetFiles = 1)
    }

  // MERGE-SQL demo (VERDICT r13 task 6): a TableLog table whose final
  // state is produced by executing ANSI MERGE TEXT through the
  // dialect's DML surface (graft.exec.MergeSql) — delete, partial-SET
  // update (o_custkey must stay the TARGET's: the source deliberately
  // ships a shifted custkey so a compiler that wrongly took the
  // source value hash-fails), conditional insert, and untouched
  // survivors, all in one statement. The oracle reconstructs the
  // merged state relationally from orders.
  private val mergeSqlText =
    """MERGE INTO orders_tl AS t
      |USING (
      |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
      |         o_totalprice * 2 AS o_totalprice, o_orderkey % 16 AS m
      |  FROM orders WHERE o_orderkey % 16 IN (0, 1, 4, 9)
      |) AS s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED AND s.m = 0 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED AND s.m <> 9 THEN
      |  INSERT (o_orderkey, o_custkey, o_totalprice)
      |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)""".stripMargin
  private[graft] def mergeSqlDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesql", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlText, d)
      ()
    }

  // Composite-key MERGE demo (VERDICT r14 task 5): the target keys on
  // (o_orderkey, o_custkey) and the source deliberately ships HALF its
  // rows with a shifted custkey — those match on the simple key but
  // NOT on the composite, so a compiler that joined on o_orderkey
  // alone would update rows the composite statement must insert
  // (hash-fail by construction).
  private val mergeSqlCompositeText =
    """MERGE INTO orders_tlc AS t
      |USING (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 8 = 4 THEN o_custkey + 5000000
      |              ELSE o_custkey END AS o_custkey,
      |         o_totalprice * 3 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 0
      |) AS s
      |ON t.o_orderkey = s.o_orderkey AND t.o_custkey = s.o_custkey
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED THEN
      |  INSERT (o_orderkey, o_custkey, o_totalprice)
      |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)""".stripMargin
  private[graft] def mergeSqlCompositeDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesqlc", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlCompositeText, d)
      ()
    }

  // WHEN NOT MATCHED BY SOURCE demo (VERDICT r14 task 7): the
  // full-sync MERGE — rows still in the feed update, rows that LEFT
  // the feed are deleted when the guard condition holds, everything
  // else survives. The guard references TARGET columns only (the row
  // has no source match by definition).
  private val mergeSqlBySourceText =
    """MERGE INTO orders_tlb AS t
      |USING (
      |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 8 = 0
      |) AS s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
      |WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 2 = 0 THEN DELETE""".stripMargin
  private[graft] def mergeSqlBySourceDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "mergesqlb", sfDir) { d =>
      TableLog.init(s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 4 === 0), d)
      graft.exec.MergeSql.execute(s, mergeSqlBySourceText, d)
      ()
    }

  // Data-skipping demo (VERDICT r14 task 1): the orders payload as a
  // 4-commit TableLog table whose files hold DISJOINT o_orderkey
  // quarters (one file per commit, so the file↔range map is exact).
  // A selective readWhere over it must prune to exactly the files
  // whose zone maps overlap the predicate — q_tablelog_skipping pins
  // the scanned-file count in its oracle, making the pruning itself
  // hash-checked, not just spec-asserted.
  private[graft] def tableLogSkipDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlskip", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val m = o.agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
      // lower sentinel -1: order keys start at 0 in the fixtures
      val bounds = Seq(-1L, m / 4, m / 2, 3 * m / 4, m)
      def slice(i: Int) = o.filter(col("o_orderkey") > bounds(i) &&
        col("o_orderkey") <= bounds(i + 1)).coalesce(1)
      TableLog.init(slice(0), d)
      (1 to 3).foreach(i => TableLog.append(slice(i), d))
    }

  // Schema-evolution demo (VERDICT r14 task 7): version 0 carries
  // two columns; version 1 appends a THIRD (o_flag) under the
  // explicit mergeSchema flag. The merged read must surface the old
  // files' missing column as NULL and the new file's values exactly —
  // both pinned relationally by the oracle.
  private[graft] def tableLogEvolveDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlevolve", sfDir) { d =>
      val o = s.table("orders").select("o_orderkey", "o_totalprice")
      TableLog.init(o.filter(col("o_orderkey") % 4 === 0).coalesce(1), d)
      TableLog.append(o.filter(col("o_orderkey") % 4 === 1)
        .withColumn("o_flag", (col("o_orderkey") % 7).cast("long"))
        .coalesce(1), d, mergeSchema = true)
      ()
    }

  // Streaming ingest-with-maintenance demo (VERDICT r13 task 7):
  // orders arrives as 4 equal-keyspace micro-batches (one file per
  // trigger, coalesce(1) so every append is exactly one data file);
  // appendStreamCompacting compacts whenever live files exceed 2.
  // The OP SEQUENCE and per-commit file counts are then fully
  // determined by the policy — (init, append, append, COMPACT at
  // live=3, append) — independent of batch arrival order, and the
  // final content equals orders exactly; both facts are what
  // q_table_compaction hashes.
  private[graft] def tableCompactionDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "tlcompact", sfDir) { d =>
      val o = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      (0 to 3).foreach(r => o.filter(col("o_orderkey") % 4 === r)
        .coalesce(1).write.parquet(s"$d/in/b$r"))
      val q = TableLog.appendStreamCompacting(
        s.readStream.schema(o.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(s"$d/in"),
        s"$d/tbl",
        graft.EngineScratch.dir(s, "graft-ckpt-tlcompact"),
        maxLiveFiles = 2)
      // a timeout here must fail AT THE BUILD SITE — returning
      // normally would cache a partially-ingested table and surface
      // only as an opaque q_table_compaction hash mismatch (ADVICE r14)
      require(q.awaitTermination(120000L),
        "table-compaction ingest did not finish within 120 s")
      ()
    }

  // time-travel read ≡ relational reconstruction of every version of
  // the tableLogDemoDir lifecycle — shared verbatim by the API-surface
  // query (q_table_history) and the SQL-text surface
  // (q_table_history_sql), so the two must hash identically
  private val tableHistoryOracleSql =
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
      |s0 AS (SELECT * FROM base WHERE o_orderkey % 4 = 0),
      |s2 AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 8 = 4 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM base
      |  WHERE (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0)
      |     OR o_orderkey % 4 = 2),
      |agg AS (
      |  SELECT 0 AS version, 'init' AS op,
      |    (SELECT count(*) FROM s0)::BIGINT AS rows_added,
      |    count(*)::BIGINT AS n_rows,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |      AS sum_price
      |  FROM s0
      |  UNION ALL
      |  SELECT 1, 'append',
      |    (SELECT count(*) FROM base WHERE o_orderkey % 4 = 1)::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM base WHERE o_orderkey % 4 <= 1
      |  UNION ALL
      |  SELECT 2, 'merge',
      |    (SELECT count(*) FROM s2)::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM s2
      |  UNION ALL
      |  SELECT 3, 'compact', 0::BIGINT,
      |    count(*)::BIGINT,
      |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
      |  FROM s2)
      |SELECT * FROM agg ORDER BY version""".stripMargin

  override val indexes = Seq(bloomSkipDir, tableLogDemoDir, mergeSqlDir,
    mergeSqlCompositeDir, mergeSqlBySourceDir, tableLogSkipDir,
    tableLogEvolveDir, tableCompactionDir)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — consistent-hash reshard audit: the 8→10 movement matrix
    // under ring assignment (~1−8/10 of keys move vs mod-N's ~90%) —
    // the number a 100 TB re-layout decision needs first.
    QueryDef("q_reshard_plan", withTables { s =>
      graft.ext.Sharding.reshardPlan(s.table("documents"), reshardOld,
        reshardNew, reshardVnodes, salt = reshardSalt)
    }, Some(OraclesExt.reshardPlan(reshardOld, reshardNew,
      reshardVnodes, reshardSalt))),
    // §7.5 — small-file compaction planner: prefix-sum bin assignment
    // of the (source, lang) file manifest into ~target-byte outputs,
    // key-ordered so source locality (and its partition pruning)
    // survives the rewrite. The plan is the reviewable cheap step;
    // Compaction.compact is the rewrite.
    QueryDef("q_compaction_plan", withTables { s =>
      val manifest = s.table("documents").groupBy("source", "lang")
        .agg(sum(col("n_chars")).as("file_bytes"))
      graft.ext.Compaction.plan(manifest,
        "source", "lang", "file_bytes", compactionTargetBytes)
    }, Some(OraclesExt.compactionPlan(compactionTargetBytes))),
    // §7.5 — deterministic corpus shuffle + sharding (map-only
    // assignment; the only exchange is the per-shard rank window).
    QueryDef("q_shard", withTables { s =>
      Sharding.shardCorpus(s.table("documents"), shardCount)
        .select("doc_id", "shard_id", "shard_pos").orderBy("doc_id")
    }, Some(OraclesExt.shard(shardCount))),
    // §7.5 — shuffle-quality certification: Wald–Wolfowitz runs of the
    // source sequence in each shard's shuffle order; ratio ≈ 1 means
    // the md5 shuffle interleaves sources, ≪ 1 means source batches
    // survived — invisible to any per-shard count check.
    QueryDef("q_shuffle_runs", withTables { s =>
      Sharding.shuffleRunsAudit(s.table("documents"), shardCount)
    }, Some(OraclesExt.shuffleRuns(shardCount))),
    // §7.5 — bucketed-storage co-located join: both fact tables are
    // persisted hash-clustered+sorted on the join key, so the
    // recurring fact-to-fact join runs with ZERO exchanges and ZERO
    // sorts (the write paid the shuffle once — the 100 TB shape for
    // repeatedly-joined published corpora). PlanHygieneSpec asserts
    // the exchange-free plan; the oracle only sees the join result.
    QueryDef("q_bucketed_join", withTables { s =>
      val dir = graft.EngineScratch.dir(s, "graft-bucketed")
      Bucketing.writeBucketed(s.table("documents"), "documents_bkt",
        s"$dir/documents", 8, "doc_id")
      Bucketing.writeBucketed(s.table("embeddings"), "embeddings_bkt",
        s"$dir/embeddings", 8, "vec_id")
      Bucketing.coLocatedJoin(s, "documents_bkt", "embeddings_bkt",
        "doc_id", "vec_id")
        .groupBy(col("lang"), col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy("lang", "label")
    }, Some("""SELECT lang, label, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars, min(doc_id) AS min_doc_id
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // §7.5 — MERGE INTO (upsert + delete change set applied to a
    // snapshot): one anti-join + union, the table-maintenance op.
    // The change set is derived deterministically from orders so both
    // engines construct the identical merge input.
    QueryDef("q_merge_upsert", withTables { s =>
      import graft.ext.Merge
      val base = s.table("orders").select(col("o_orderkey"), col("o_totalprice"))
      val deletes = base.where(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
          lit(Merge.Delete).as(Merge.OpCol))
      val updates = base.where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      val inserts = base.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_totalprice"), lit(Merge.Upsert).as(Merge.OpCol))
      Merge.applyChangeSet(base, deletes.unionByName(updates).unionByName(inserts),
          "o_orderkey")
        .select(col("o_orderkey"), round(col("o_totalprice"), 5).as("total"))
        .orderBy("o_orderkey")
    }, Some(OraclesExt.mergeUpsert)),
    // §7.5 — snapshot-isolated table format: a 4-commit history
    // (init/append/copy-on-write merge/compaction) over the orders
    // payload, then a TIME-TRAVEL read of every version — each
    // version's rows and the log's own rows_added audited against
    // the oracle's relational reconstruction of the same states.
    // time-travel read ≡ relational reconstruction of every version:
    // s0 = init (keys ≡ 0 mod 4), s1 = s0 ∪ append (≡ 1), s2 = merge
    // (delete ≡ 0 mod 8, double price ≡ 4 mod 8, insert ≡ 2 mod 4),
    // s3 = compaction (content-identical to s2, rows_added 0).
    QueryDef("q_table_history", withTablesSf { (s, sfDir) =>
      val d = tableLogDemoDir(s, sfDir)
      val hist = TableLog.history(s, d)
        .select("version", "op", "rows_added")
      val states = (0 to 3).map { v =>
        TableLog.read(s, d, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,6)"))
            .cast("double"), 5).as("sum_price"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
      hist.join(states, Seq("version"))
        .select("version", "op", "rows_added", "n_rows", "sum_price")
        .orderBy("version")
    }, Some(tableHistoryOracleSql)),
    // §7.6 — TIME TRAVEL AS SQL TEXT (VERDICT r14 task 6): the same
    // 4-version lifecycle read through `FOR VERSION AS OF n` in the
    // dialect (TableLogSql), sharing q_table_history's oracle
    // verbatim — the text surface must reproduce the API surface's
    // states bit-for-bit.
    QueryDef("q_table_history_sql", withTablesSf { (s, sfDir) =>
      val d = tableLogDemoDir(s, sfDir)
      val hist = TableLog.history(s, d)
        .select("version", "op", "rows_added")
      val states = (0 to 3).map { v =>
        graft.exec.TableLogSql.select(s,
          s"""SELECT count(*) AS n_rows,
             |  round(cast(sum(cast(o_totalprice AS decimal(18,6))) AS double), 5)
             |    AS sum_price
             |FROM orders_tl FOR VERSION AS OF $v""".stripMargin,
          Map("orders_tl" -> d))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
      hist.join(states, Seq("version"))
        .select("version", "op", "rows_added", "n_rows", "sum_price")
        .orderBy("version")
    }, Some(tableHistoryOracleSql)),
    // §7.5 — streaming ingestion WITH a maintenance policy: one file
    // per micro-batch lands as an append commit and the table
    // auto-compacts (history-preserving) when live files exceed the
    // bound. The op sequence + per-commit file counts are a pure
    // function of the policy, and the final state must equal orders
    // exactly — the oracle pins both.
    // policy-determined op sequence (compact fires exactly when live
    // files would reach 3) + content preservation
    QueryDef("q_table_compaction", withTablesSf { (s, sfDir) =>
      val d = s"${tableCompactionDir(s, sfDir)}/tbl"
      val hist = TableLog.history(s, d)
        .select("version", "op", "n_files_added", "n_files_removed")
      val fin = TableLog.read(s, d).agg(
        count(lit(1)).as("n_rows_final"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price_final"))
      hist.crossJoin(fin).orderBy("version")
    }, Some("""WITH hist(version, op, n_files_added, n_files_removed) AS (
        |  VALUES (0,'init',1,0),(1,'append',1,0),(2,'append',1,0),
        |         (3,'compact',1,3),(4,'append',1,0)),
        |fin AS (
        |  SELECT count(*)::BIGINT AS n_rows_final,
        |    round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |      AS sum_price_final
        |  FROM orders)
        |SELECT version, op, n_files_added, n_files_removed,
        |  n_rows_final, sum_price_final
        |FROM hist CROSS JOIN fin ORDER BY version""".stripMargin)),
    // §7.6 — ANSI MERGE INTO as TEXT, executed by the dialect's DML
    // surface against the table format: delete / partial-SET update /
    // conditional insert / survivors in one statement, then a read of
    // the committed final state. The oracle reconstructs the merged
    // relation with explicit joins — hash-green proves the parser,
    // the clause routing (incl. ANSI partial-SET keeping TARGET
    // values) and the copy-on-write commit end-to-end.
    // the merged state, reconstructed with explicit clause algebra:
    // survivors (no source match) ∪ updates (matched, m<>0, partial
    // SET keeps the TARGET custkey) ∪ inserts (unmatched, m<>9)
    QueryDef("q_merge_sql", withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey")
    }, Some("""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |src AS (
        |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |         o_totalprice * 2 AS o_totalprice, o_orderkey % 16 AS m
        |  FROM orders WHERE o_orderkey % 16 IN (0, 1, 4, 9)),
        |merged AS (
        |  SELECT b.o_orderkey, b.o_custkey, b.o_totalprice
        |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL
        |  UNION ALL
        |  SELECT b.o_orderkey, b.o_custkey, s.o_totalprice
        |  FROM base b JOIN src s ON b.o_orderkey = s.o_orderkey
        |  WHERE s.m <> 0
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s LEFT JOIN base b ON b.o_orderkey = s.o_orderkey
        |  WHERE b.o_orderkey IS NULL AND s.m <> 9)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin)),
    // §7.6 — composite-key MERGE as TEXT: the ON clause is a
    // two-column equality conjunction; rows matching on only ONE
    // component are NOT MATCHED and insert (the oracle reconstructs
    // exactly that routing, so a single-key join hash-fails).
    // the composite-key merged state: matched rows (both key columns
    // agree) take the tripled price; shifted-custkey rows keep their
    // original target row AND add an inserted row
    QueryDef("q_merge_sql_composite", withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlCompositeDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey", "o_custkey")
    }, Some("""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey + 5000000, o_totalprice * 3
        |  FROM base WHERE o_orderkey % 8 = 4)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey, o_custkey""".stripMargin)),
    // §7.6 — WHEN NOT MATCHED BY SOURCE (full-sync MERGE, the
    // Delta-spelled extension): matched rows take the doubled price,
    // feed-departed rows with an even custkey are deleted, odd-custkey
    // departures survive — the oracle reconstructs all three routes.
    QueryDef("q_merge_sql_bysource", withTablesSf { (s, sfDir) =>
      TableLog.read(s, mergeSqlBySourceDir(s, sfDir))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 5).as("o_totalprice"))
        .orderBy("o_orderkey")
    }, Some("""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM base WHERE o_orderkey % 8 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 8 = 4 AND o_custkey % 2 <> 0)
        |SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 5) AS o_totalprice
        |FROM merged ORDER BY o_orderkey""".stripMargin)),
    // §7.5 — SCHEMA EVOLUTION through the table format: an evolved
    // table's merged read — old files' young column as NULL, new
    // file's values exact, row set untouched — aggregated into facts
    // the oracle reconstructs from orders.
    QueryDef("q_tablelog_evolve", withTablesSf { (s, sfDir) =>
      TableLog.read(s, tableLogEvolveDir(s, sfDir)).agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price"),
        count(col("o_flag")).as("n_flagged"),
        sum(col("o_flag")).as("sum_flag"))
    }, Some("""SELECT count(*)::BIGINT AS n_rows,
        |  round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |    AS sum_price,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 1)::BIGINT
        |    AS n_flagged,
        |  (SELECT sum(o_orderkey % 7) FROM orders
        |   WHERE o_orderkey % 4 = 1)::BIGINT AS sum_flag
        |FROM orders WHERE o_orderkey % 4 <= 1""".stripMargin)),
    // §7.5 — DATA SKIPPING through the table format (VERDICT r14
    // task 1): a selective predicate over a range-sliced TableLog
    // table resolves its file list from commit-log zone maps alone.
    // The oracle pins BOTH the content (count + price sum over the
    // filtered orders) and the scanned-file count — 1 of 4 live
    // files — so a regression that silently stops pruning (or,
    // worse, prunes a qualifying file) hash-fails, the
    // q_knn_ivf_indexed pruned-probe precedent applied to the
    // durable table layer.
    // content of the selective read over the range-sliced table,
    // PLUS the pruning facts: the predicate (max/8) falls inside the
    // first of four quarter-range files, so exactly 1 of 4 live
    // files may be scanned — pinned as literals
    QueryDef("q_tablelog_skipping", withTablesSf { (s, sfDir) =>
      val d = tableLogSkipDir(s, sfDir)
      val m = s.table("orders")
        .agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
      val pruned = TableLog.readWhere(s, d, s"o_orderkey <= ${m / 8}")
      pruned.agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_price"))
        .withColumn("n_files_scanned", lit(pruned.inputFiles.length))
        .withColumn("n_files_live", lit(TableLog.liveFileCount(d)))
    }, Some("""SELECT count(*)::BIGINT AS n_rows,
        |  round(cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 5)
        |    AS sum_price,
        |  1 AS n_files_scanned, 4 AS n_files_live
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 8""".stripMargin)),
    // §7.5 — row-level snapshot diff (applyChangeSet's inverse): two
    // snapshots in, (key, added/removed/changed) out. Digest-compare
    // inside Spark; the oracle re-detects by direct value comparison,
    // so no float-to-string formatting crosses engines. The "new"
    // snapshot is derived deterministically from orders.
    QueryDef("q_snapshot_diff", withTables { s =>
      import graft.ext.Merge
      val o = s.table("orders")
      val kept = o.filter(col("o_orderkey") % snapRemovedMod =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % snapChangedMod === 0,
            col("o_totalprice") + 1).otherwise(col("o_totalprice")))
      val added = o.filter(col("o_orderkey") % snapAddedMod === 0)
        .withColumn("o_orderkey", col("o_orderkey") + snapAddedOffset)
      Merge.snapshotDiff(o, kept.unionByName(added), "o_orderkey",
          Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy("o_orderkey")
    }, Some(OraclesExt.snapshotDiff(snapRemovedMod,
      snapChangedMod, snapAddedMod, snapAddedOffset))),
    // §7.5 — Z-order key: Morton interleave of (user, day) verified
    // bit-for-bit (the layout-clustering key used for 2-D data
    // skipping; see ZOrder.clusterBy for the write path).
    QueryDef("q_zorder", withTables { s =>
      val e = s.table("events")
        .withColumn("day_num",
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"))
      e.select(col("event_id"), col("user_id"), col("day_num"),
          graft.ext.ZOrder.morton2(col("user_id"), col("day_num")).as("zkey"))
        .orderBy("event_id")
    }, Some(OraclesExt.zorder)),
    // §2.8/§1.3 — typed JSON extraction from the events props column
    // (the engine's JSON surface on table data; from_json with an
    // explicit schema is the codegen'd, no-UDF path).
    QueryDef("q_events_json", withTables { s =>
      s.table("events")
        .withColumn("k", from_json(col("props"), "k BIGINT",
          Map.empty[String, String]).getField("k"))
        // floor, not cast: Spark's double->long cast truncates but
        // DuckDB's rounds — floor + // keep both sides identical
        .groupBy(floor(col("k") / 10).cast("long").as("k_bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_value"))
        .orderBy("k_bucket")
    }, Some("""SELECT json_extract(props, '$.k')::BIGINT // 10 AS k_bucket,
        |  count(*)::BIGINT AS n_events,
        |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)),
    // §2.1 sources — a CSV-registered table (staged once from the
    // parquet original; see csvSourceDir) joined against a parquet
    // dim: the oracle runs on parquet, so hash-green proves the CSV
    // decode path (header, quoting, INT parsing) is lossless.
    QueryDef("q_csv_source", withTablesSf { (s, sfDir) =>
      val nation = s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").csv(s"${csvSourceDir(s, sfDir)}/nation")
      nation.join(s.table("region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy("r_name")
    }, Some("""SELECT r_name, count(*)::BIGINT AS n_nations,
        |  min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    // §2.1 sources — a JSON-lines-registered table (staged once; see
    // jsonSourceDir) with DOUBLE columns: hash-green proves the
    // shortest-round-trip number encoding survives the text hop
    // bit-exactly (the decimal-cast sum would drift on any ulp loss).
    QueryDef("q_json_source", withTablesSf { (s, sfDir) =>
      val sup = s.read
        .schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(s"${jsonSourceDir(s, sfDir)}/supplier")
      sup.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_acctbal"))
        .orderBy("s_nationkey")
    }, Some("""SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
        |  round(cast(sum(cast(s_acctbal AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_acctbal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),
    // §2.1 sinks — CSV write-then-read through the engine's own
    // pinned-option sink/reader pair (see csvSinkDir): the oracle
    // aggregates the parquet original, so hash-green proves the WRITE
    // path lossless, not just the read.
    QueryDef("q_csv_roundtrip", withTablesSf { (s, sfDir) =>
      val cust = graft.sources.FileSinks.readCsv(s,
        s"${csvSinkDir(s, sfDir)}/customer",
        "c_custkey LONG, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
      cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_acctbal"),
          min(col("c_name")).as("first_name"))
        .orderBy("c_mktsegment")
    }, Some("""SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |  round(cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_acctbal,
        |  min(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // Zone-map skipping effectiveness: linear vs z-order file layouts
    // replayed against per-dimension / point probe workloads — the
    // measured version of the OPTIMIZE...ZORDER decision. One corpus
    // scan; everything downstream is file/probe-bounded.
    QueryDef("q_skipping", withTables { s =>
      graft.ext.ZOrder.skippingReport(
        s.table("events").withColumn("day_num",
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")),
        "user_id", "day_num", skipFiles, skipProbes)
    }, Some(OraclesExt.skippingReport(skipFiles, skipProbes))),
    // Incrementally maintained (count, sum) view under the
    // q_merge_upsert change set — delta algebra, never a re-scan;
    // the oracle recomputes the view from the merged snapshot, so a
    // wrong retraction/addition fails the hash.
    QueryDef("q_incremental_agg", withTables { s =>
      import graft.ext.Merge
      val base = s.table("orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val deletes = base.where(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"),
          lit(Merge.Delete).as(Merge.OpCol))
      val updates = base
        .where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      val inserts = base.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          lit(Merge.Upsert).as(Merge.OpCol))
      Merge.incrementalAgg(base,
        deletes.unionByName(updates).unionByName(inserts),
        "o_orderkey", "o_orderstatus", "o_totalprice")
    }, Some(OraclesExt.incrementalAgg)),
    // Content-key point lookup through the per-shard Bloom skipping
    // index: shards whose filter proves the key absent cost zero I/O;
    // survivors are scanned with the exact residual predicate (false
    // positives eliminated there -- pruning is I/O-only, never a
    // correctness dial). Returns the probe doc's exact-duplicate set.
    QueryDef("q_bloom_skip_lookup", withTablesSf { (s, sfDir) =>
      val d = bloomSkipDir(s, sfDir)
      val key = s.table("documents")
        .filter(col("doc_id") === bloomSkipProbeDoc)
        .select(md5(col("text")).as("k")).head.getString(0)
      Sharding.lookupByKey(s, s"$d/data", s"$d/index", "content_key",
        key, bloomSkipMBits, bloomSkipK)
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }, Some(s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(text) = (SELECT md5(text) FROM documents
         |  WHERE doc_id = $bloomSkipProbeDoc)
         |ORDER BY doc_id""".stripMargin)))
}
