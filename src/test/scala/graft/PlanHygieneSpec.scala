package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables

/** Physical-plan hygiene: the properties that decide 100 TB behavior —
  * filter pushdown to parquet, column pruning, broadcast joins for
  * small dimensions, bucket-co-located joins without shuffles, and
  * salted-aggregation shape.
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // sparkPlan, not executedPlan: the AQE wrapper node hides scan
  // leaves from collectLeaves until stages materialize
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }

  test("pricing summary pushes the shipdate predicate into the parquet scan") {
    Tables.register(spark, TestSpark.sfDir)
    val df = SparkEntry.queries("q_pricing_summary")(spark, TestSpark.sfDir)
    val scan = scans(df).find(_.requiredSchema.fieldNames.contains("l_shipdate")).get
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      s"no pushed filter: ${scan.metadata("PushedFilters")}")
  }

  // every parquet scan under an executed plan: through AQE wrappers,
  // query stages, cached relations and subqueries
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  test("profiler scans read only the numeric columns") {
    Tables.register(spark, TestSpark.sfDir)
    // the profile runs its jobs while it is built and returns a local
    // relation, so its scans are seen in the plans it executes
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val markerSeen = scala.concurrent.Promise[Unit]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.output.exists(_.name == "flush_marker")) markerSeen.trySuccess(())
        else executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.profile.TableProfiler.profileTable(spark, "lineitem")
      // reports arrive in order: once this action's own report is
      // seen, every report of the profile has been
      spark.range(1).toDF("flush_marker").collect()
      scala.concurrent.Await.result(markerSeen.future,
        scala.concurrent.duration.Duration(1, "minute"))
    } finally spark.listenerManager.unregister(listener)
    val seen = executed.asScala.toSeq.flatMap(fileScans)
    assert(seen.nonEmpty, "no parquet scan seen: the check would pass vacuously")
    seen.foreach { s =>
      val fields = s.requiredSchema.fieldNames.toSet
      assert(!fields.contains("l_returnflag") && !fields.contains("l_shipdate"),
        s"non-numeric column read: $fields")
    }
  }

  test("revenue query broadcasts the small dimension tables") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_revenue_by_nation")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
  }

  test("bucketed tables join without a shuffle") {
    Tables.register(spark, TestSpark.sfDir)
    spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    // a previously failed run can leave orphan table dirs that block
    // managed-table creation
    Seq("lineitem_bkt", "orders_bkt").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
    }
    spark.table("lineitem").write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_bkt")
    spark.table("orders").write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_bkt")
    // force a sort-merge join (orders is broadcast-sized at test SF);
    // bucket co-location is what must then avoid the exchanges
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        """SELECT count(*) AS n
          |FROM lineitem_bkt JOIN orders_bkt ON l_orderkey = o_orderkey""".stripMargin)
      joined.collect()
      // AQE wraps materialized stages in QueryStageExec leaves; unwrap
      // recursively to see the real operators
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
          case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
          case other => other.children.flatMap(unwrap)
        })
      val all = unwrap(joined.queryExecution.executedPlan)
      val smj = all.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n${joined.queryExecution.executedPlan}")
      val shufflesUnderJoin = unwrap(smj.head).collect { case e: ShuffleExchangeExec => e }
      assert(shufflesUnderJoin.isEmpty,
        s"bucketed join still shuffles:\n${smj.head}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("Bucketing.coLocatedJoin: no exchange, no sort, and bucket pruning") {
    Tables.register(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bkt-spec").toString
    graft.ext.Bucketing.writeBucketed(spark.table("documents"),
      "documents_bkt_spec", s"$dir/d", 8, "doc_id")
    graft.ext.Bucketing.writeBucketed(spark.table("embeddings"),
      "embeddings_bkt_spec", s"$dir/e", 8, "vec_id")
    val joined = graft.ext.Bucketing.coLocatedJoin(spark,
      "documents_bkt_spec", "embeddings_bkt_spec", "doc_id", "vec_id")
      .select("doc_id", "lang", "label")
    joined.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
        case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case other => other.children.flatMap(unwrap)
      })
    val all = unwrap(joined.queryExecution.executedPlan)
    val smj = all.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected SMJ:\n${joined.queryExecution.executedPlan}")
    val under = unwrap(smj.head)
    assert(under.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"co-located join shuffles:\n${smj.head}")
    assert(under.collect { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      s"sortBy metadata unused, join re-sorts:\n${smj.head}")
    // equality on the bucket key reads 1 of 8 buckets. The
    // autoBucketedScan planner rule rewrites a bare filter scan into
    // non-bucketed mode (file pruning still applies but explain hides
    // the count); pin bucketed mode to make the assertion visible.
    val prevAuto =
      spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = spark.table("documents_bkt_spec")
        .filter(col("doc_id") === 42L)
      val scanStr = pruned.queryExecution.executedPlan.toString
      assert(scanStr.contains("SelectedBucketsCount: 1 out of 8"),
        s"no bucket pruning:\n$scanStr")
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
  }

  test("approx profile computes all 8×N sketch stats from ONE scan") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.profile.TableProfiler.approxProfile(spark.table("lineitem"))
    assert(scans(df).size == 1,
      s"approx profile should scan once, got ${scans(df).size}")
  }

  test("spread skips the repartition when the input is already parallel") {
    Tables.register(spark, TestSpark.sfDir)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e
      }.size
    val docs = spark.table("documents")
    val many = docs.repartition(spark.sparkContext.defaultParallelism)
    // withShingleSet is map-only apart from spread: on an already-
    // parallel input the ONLY exchange is the explicit repartition
    assert(exchanges(graft.ext.Dedup.withShingleSet(many, 3, "text", "sh")) == 1,
      "spread added an exchange to an already-parallel input")
    // on the single-row-group test file it must still fire
    assert(exchanges(graft.ext.Dedup.withShingleSet(docs, 3, "text", "sh")) == 1,
      "spread did not fire on an under-parallel input")
  }

  test("embedding near-dup plans as equi-joins — no all-pairs join") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_embedding_neardup")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"all-pairs join in the near-dup plan:\n$plan")
  }

  test("corpus report's exact distincts never plan as an Expand") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_corpus_report")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    // exactly ONE Expand is expected — the final wide→long unpivot of
    // a single row; a corpus-sized multi-countDistinct Expand would
    // add more
    assert(plan.sliding("Expand".length).count(_ == "Expand") == 1,
      s"multi-countDistinct Expand snuck into the corpus report:\n$plan")
  }

  test("deterministic sampling is map-only — no exchange, no shuffle") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.ext.Sampling.stratifiedSample(spark.table("documents"),
      "lang", Map("en" -> 0.5), 0.1).select("doc_id", "lang")
    val exchanges = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "sampling must be a pure map-side filter")
  }

  test("packing has no single-partition global window (the scale trap)") {
    Tables.register(spark, TestSpark.sfDir)
    val toks = spark.table("documents").select(col("doc_id"),
      size(graft.ext.TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    val df = graft.ext.Packing.packSequences(toks, 512, 32)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-shard cumsum window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "unpartitioned window = single-task total sort at scale:\n" + w)
    }
  }

  test("no query plans an unpartitioned window over unbounded input") {
    Tables.register(spark, TestSpark.sfDir)
    // Global (empty-partitionSpec) windows serialize their input into
    // ONE task — a scale killer unless the input is provably bounded.
    // Every query whose plan contains one must appear here with the
    // bound that justifies it; anything else fails the audit.
    val boundedByConfig: Map[String, String] = Map(
      // hybridRerank ranks ≤candidateK BM25 survivors (Search.scala)
      "q_hybrid_search" -> "candidateK config bound",
      // pqCentroids ranks the ksub-row sampled codebook seed set
      // (Similarity.scala .limit(ksub) upstream of the window)
      "q_pq_codes" -> "ksub-row codebook sample",
      "q_knn_pq" -> "ksub-row codebook sample",
      "q_knn_ivfpq" -> "ksub-row codebook sample",
      "q_knn_ivfpq_refined" -> "ksub-row codebook sample",
      "q_knn_ivfpq_residual" -> "ksub-row codebook sample",
      // funnelReport's cumsum frame is the six-row stage list
      "q_curation_funnel" -> "six-row stage list",
      // dsirResample ranks the k already-selected rows (dsirK config)
      "q_dsir_sample" -> "k-row selected set",
      // forecast/trend regressions run over one row per (type, day) —
      // collapsed map-side before the window sees it
      "q_events_trend" -> "one row per (type, day)",
      "q_forecast_revenue" -> "one row per day",
      // userGrowth's cumulative sum spans one row per calendar day
      "q_user_growth" -> "one row per day",
      // rfm's constant threshold group is folded out of the window's
      // partitionSpec by the optimizer; the remaining global frame is
      // the sharded-cumsum SHARD-OFFSET pass — one row per shard
      // (32, config-bounded), the two-phase prefix-sum design
      "q_events_rfm" -> "32-row shard-offset frame (constant group)",
      // prCurve's cumulative runs over the 4-decimal score GRID —
      // ≤ 10⁴+1 rows however large the corpus (LogReg.prCurve scaladoc)
      "q_logreg_pr" -> "4-decimal score grid (≤ 10001 rows)",
      // ksDrift's corpus-wide CDF is one global cumsum over the
      // 5-decimal score grid alone (Eval.ksDriftByGroup scaladoc)
      "q_ks_drift" -> "5-decimal score grid (≤ 100001 rows)",
      // heavyHitters: total-attachment window over the aggregated
      // Misra–Gries sketch — ≤ capacity × partitions + 1 rows
      "q_heavy_hitters" -> "capacity×partitions sketch frame",
      // lorenzGini: the constant-group sharded-cumsum offset pass
      // (32 rows) + the decile cumsum (exactly `deciles` rows)
      "q_gini_revenue" -> "32-row shard offsets + 10-row decile frame",
      // cusum/KM windows run over the calendar-day / duration-day
      // grid — one row per day however large the event stream
      "q_cusum" -> "one row per calendar day",
      "q_sprt" -> "one row per calendar day",
      "q_kaplan_meier" -> "one row per duration day",
      "q_logrank" -> "one row per duration day",
      // skippingReport: the constant-group sharded-cumsum offset
      // passes (32 rows per layout) — the two-phase prefix-sum design
      "q_skipping" -> "32-row shard-offset frames (constant group)",
      // gateThresholds' descending cumulative runs over the same
      // score grid (Eval.gateThresholds scaladoc)
      "q_gate_threshold" -> "5-decimal score grid (≤ 100001 rows)",
      // mannWhitney's cumsum runs over the DISTINCT n_chars value
      // grid — bounded by the metric's range, never the corpus
      "q_mannwhitney" -> "distinct-value grid (one row per n_chars)",
      "q_kruskal_wallis" -> "distinct-value grid (one row per n_chars)",
      // compaction plan's offsets window is one row per source group
      // (the two-phase prefix-sum design; the per-file cumsum is
      // partitioned by source)
      "q_compaction_plan" -> "one row per source group (offset pass)",
      // water-filling solves over the stratum domain — one row per
      // source, bounded by the mixture design
      "q_waterfill" -> "one row per source stratum",
      // pooled-grid cumsum runs over the 5-decimal score grid alone
      // (the merge window itself is partitioned by source)
      "q_quantile_normalize" -> "5-decimal score grid (≤ 100001 rows)",
      // paretoFront's running max runs over the DISTINCT doc_len
      // value domain — bounded by the length range, never the corpus
      // (the q_mannwhitney distinct-value-grid convention)
      "q_pareto_front" -> "distinct-value grid (one row per doc_len)",
      // rrfFusion ranks two ≤listK retrieval lists and fuses their
      // union — every global window sees ≤ 2·listK rows
      "q_rrf_fusion" -> "≤ 2·listK fusion rows (listK config bound)",
      // vocabMassCurve windows over the top max(cuts) tokens only —
      // bounded upstream by a TakeOrderedAndProject limit(cuts.max)
      "q_vocab_mass_curve" -> "≤ max(cuts)-row top-token relation")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val wins = fn(spark, TestSpark.sfDir).queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
              if w.partitionSpec.isEmpty => w
        }
        if (wins.nonEmpty && !boundedByConfig.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unaudited global windows (add a bound or repartition): ${offenders.mkString(", ")}")
  }

  test("link prediction explodes candidates map-side — no self-join on z") {
    Tables.register(spark, TestSpark.sfDir)
    // The candidate pairs must come from exploding the per-node capped
    // adjacency ARRAY (one exchange: the node-keyed window/groupBy),
    // not from a z-keyed self-join of the adjacency relation. The only
    // join in the whole plan is the existing-edge LeftAnti exclusion.
    val plan = SparkEntry.queries("q_link_prediction")(spark, TestSpark.sfDir)
      .queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1 && joins.head.joinType.sql == "LEFT ANTI",
      s"candidate path must be join-free (LeftAnti exclusion only); got: " +
        joins.map(j => j.joinType.sql).mkString(", "))
  }

  test("decontamination is a pure shingle equi-join — nothing quadratic") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_decontam")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"non-equi join in the decontamination plan:\n$plan")
  }

  test("shard ranking window is partitioned by shard — no global sort task") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.ext.Sharding.shardCorpus(spark.table("documents"), 8)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-shard rank window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "unpartitioned window = single-task total sort at scale:\n" + w)
    }
  }

  test("per-group top-k plans as WindowGroupLimit — skewed groups stay bounded") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_top_quality_per_lang")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into WindowGroupLimit:\n$plan")
  }

  test("zipf fit caps the per-source rank window as WindowGroupLimit") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_zipf_fit")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-V rank filter not pushed below the sort:\n$plan")
  }

  test("ngram novelty joins per-doc frames, never postings against postings") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.ext.TextStats.ngramNovelty(spark.table("documents"))
    // the only join in the plan must key on the DOC id (two per-doc
    // aggregates) — a shingle-keyed join-back of the corpus-scale
    // postings would show a join on __shingle
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.map(_.sql).mkString(",")
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.map(_.sql).mkString(",")
    }
    assert(joins.nonEmpty && joins.forall(_.contains("doc_id")),
      s"novelty must join doc-keyed frames only, got keys: $joins")
  }

  test("vocab coverage broadcasts the vocabulary — corpus never shuffled by token") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.ext.TextStats.vocabCoverage(spark.table("documents"), 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join must be broadcast:\n$plan")
  }

  test("importance weights broadcast the vocabulary ratio table onto the token stream") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val df = graft.ext.Importance.importanceWeights(docs,
      docs.filter(col("lang") === "en"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-token ratio join must be broadcast (corpus never re-shuffled by token):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"nothing quadratic belongs in the weight plan:\n$plan")
  }

  test("shuffleOrder exchanges once by shard — never a global sort window") {
    Tables.register(spark, TestSpark.sfDir)
    val df = graft.ext.Sampling.shuffleOrder(spark.table("documents"), shards = 32)
    val sp = df.queryExecution.sparkPlan
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"rank window must partition by shard:\n$sp")
    val shuffles = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1,
      s"expected at most one exchange (by shard), got ${shuffles.size}:\n$sp")
  }

  test("salted aggregation matches the direct aggregation exactly") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val salted = graft.ext.Skew.saltedCountSum(events,
      "event_type", "value", "event_id", 16)
      .orderBy("event_type").collect()
    val direct = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5).as("sum_value"))
      .orderBy("event_type").collect()
    assert(salted.toSeq == direct.toSeq)
  }

  test("EXISTS / NOT EXISTS plan as semi and anti joins") {
    Tables.register(spark, TestSpark.sfDir)
    val plan = SparkEntry.queries("q_semi_anti")(spark, TestSpark.sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$plan")
  }

  test("scd2 history serves both windows from ONE key exchange") {
    Tables.register(spark, TestSpark.sfDir)
    // executedPlan explain, not sparkPlan: exchanges are inserted by
    // EnsureRequirements, which only the prepared plan has seen
    val plan = graft.ext.Events.scd2History(spark.table("events"))
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1,
      s"change-detection and interval-chaining windows must share one exchange, got $n:\n$plan")
  }

  test("fleiss kappa consumes the 3-labeler join as ONE materialized leaf") {
    // tri feeds four consumers (s-aggregate + 3-way label union);
    // materialization means the NB-training / langId / chunk-langId
    // pipelines run once at checkpoint time, so the final plan must
    // contain NO parquet scan — every leaf is the checkpointed RDD.
    Tables.register(spark, TestSpark.sfDir)
    val df = SparkEntry.queries("q_fleiss_kappa")(spark, TestSpark.sfDir)
    assert(scans(df).isEmpty,
      s"labeler pipelines must not re-run per consumer:\n${df.queryExecution.sparkPlan}")
  }

  test("materialize fast path recognizes a leaf and its rename projection") {
    // Guards the Catalyst plan-shape match inside Share.checkpoint
    // (LogicalRDD / Project-of-attributes over it): if a Spark upgrade
    // changes the analyzed shape of a checkpointed frame, every
    // shared-frame consumer silently re-checkpoints the full relation
    // — correct but defeating the optimization with no signal
    // (ADVICE r10). The leaf's underlying RDD must survive a second
    // checkpoint, both direct and through a rename/reorder.
    import graft.exec.Share
    val df = spark.range(100).selectExpr("id as a", "id % 7 as b")
    val leaf = Share.checkpoint(df)
    def rdd(d: org.apache.spark.sql.DataFrame) =
      Share.leaf(d).getOrElse(
        fail(s"not recognized as a materialized leaf:\n${d.queryExecution.analyzed}")
      ).rdd
    val rdd0 = rdd(leaf)
    assert(rdd(Share.checkpoint(leaf)) eq rdd0,
      "re-materializing a leaf must be a no-op")
    val renamed = Share.checkpoint(
      leaf.select(col("b").as("id_b"), col("a").as("id_a")))
    assert(rdd(renamed) eq rdd0,
      "rename/reorder projection over a leaf must not re-checkpoint")
    // Share.count memoizes per leaf RDD and agrees with count()
    assert(Share.count(leaf) == 100L)
    assert(Share.count(renamed) == 100L)
    val key = new Share.Key[Int]
    assert(Share.memo(renamed, key)(7) == 7)
    assert(Share.memo(leaf, key)(fail("a leaf's fact is computed once")) == 7)
  }
}
