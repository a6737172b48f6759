package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables
import graft.ext.{Dedup, Events, Multimodal, Sampling, Similarity, TextStats}

/** Specs for the training-data-pipeline extensions (SURVEY.md §7.5):
  * dedup family, similarity search, text analysis, multimodal
  * plumbing, event windowing/sessionization.
  */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = {
    Tables.register(spark, TestSpark.sfDir)
    spark.table("documents")
  }

  // ---- Dedup ----

  test("exact dedup keeps min id per content and counts copies") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df).orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(2) == 2L)
    assert(out(1).getLong(0) == 3L && out(1).getLong(2) == 1L)
  }

  test("shingles: distinct word 3-grams, short docs degrade gracefully") {
    val df = Seq(("a b c d", 1), ("a b", 2)).toDF("text", "id")
      .select(Dedup.shingles(TextStats.tokens(col("text")), 3).as("sh"))
    val sh = df.collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq("a b")) // fewer tokens than n: one truncated shingle
  }

  test("ngram Jaccard finds planted near-dups; identical docs score 1.0") {
    val df = Seq(
      (1L, "p q r s t u v w"), (2L, "p q r s t u v w"), // identical
      (3L, "completely different words here entirely")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, 3, 0.8).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(5) == 1.0)
  }

  test("minhash LSH recovers the exact-Jaccard near-dup pairs on real docs") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashNearDupPairs(docs, 3, 16, 4, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH post-verifies with exact Jaccard, so lsh ⊆ exact; at J≥0.8 with
    // 4 bands × 4 rows the collision probability is ≈1, so equality holds
    // on the planted near-dups.
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("simhash: identical docs collide at hamming 0") {
    val df = Seq((1L, "m n o p q"), (2L, "m n o p q"), (3L, "z z2 z3 z4"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDupPairs(df, 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getInt(2) == 0))
  }

  test("tokenHash32 matches the cross-engine md5-prefix contract") {
    // cast('0x'||substr(md5('tok'),1,8) as bigint) = 1622020974 in DuckDB
    val h = spark.range(1).select(Dedup.tokenHash32(lit("tok"))).head.getLong(0)
    assert(h == 1622020974L)
  }

  test("tokenHash64 matches the biased two-half md5 assembly") {
    // md5('tok') = 60ae136e5d49fbdf…: (0x60ae136e - 2^31)*2^32 + 0x5d49fbdf
    // = -2256844998533579809 — verified identical in DuckDB
    val h = spark.range(1).select(Dedup.tokenHash64(lit("tok"))).head.getLong(0)
    assert(h == -2256844998533579809L)
  }

  test("simhash LSH blocks: 4 block positions, each with 2^16 key space") {
    val hashes = Dedup.withSimHash(docs.limit(100))
    val blocks = hashes.select(explode(array((0 until 4).map { b =>
      struct(lit(b).as("pos"),
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L)).as("v"))
    }: _*)).as("blk")).select("blk.pos", "blk.v").collect()
    assert(blocks.map(_.getInt(0)).toSet == Set(0, 1, 2, 3))
    blocks.foreach { r =>
      val v = r.getLong(1)
      assert(v >= 0L && v < 65536L, s"block value $v outside 2^16 key space")
    }
    // 64-bit packing: hashes actually use the full width (some hash
    // has a nonzero top block, i.e. bits 48..63 are not dead weight)
    assert(blocks.exists(r => r.getInt(0) == 3 && r.getLong(1) != 0L))
  }

  test("doc-freq cap drops stop-shingle pairs, keeps true near-dups") {
    // 30 docs share exactly one hot shingle ("the quick brown") and are
    // otherwise disjoint; docs 100/101 are identical with unique text.
    val hot = (1L to 30L).map(i => (i, s"the quick brown a$i b$i c$i d$i e$i"))
    val dups = Seq((100L, "unique payload text here now ok"),
      (101L, "unique payload text here now ok"))
    val df = (hot ++ dups).toDF("doc_id", "text")
    // uncapped at threshold 0: every hot pair appears — the quadratic
    val uncapped = Dedup.ngramJaccardPairs(df, 3, 0.0)
    assert(uncapped.filter(col("id_a") <= 30 && col("id_b") <= 30).count() ==
      30L * 29L / 2L)
    // capped at 10 < 30: the hot shingle leaves the inverted index, so
    // hot-only pairs vanish; the true near-dup pair survives at 1.0
    val capped = Dedup.ngramJaccardPairs(df, 3, 0.0, maxDocFreq = 10L).collect()
    assert(!capped.exists(r => r.getLong(0) <= 30 && r.getLong(1) <= 30))
    assert(capped.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L &&
      r.getDouble(5) == 1.0))
  }

  test("connected components: min-label over a known graph") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    // components {1,2,3,4} (a path — exercises multi-hop propagation),
    // {5,6}, and isolated {7}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("nearDupClusters: one survivor per cluster, sizes partition the corpus") {
    val out = Dedup.nearDupClusters(docs).collect()
    assert(out.length == docs.count())
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid) // label = min member id
      assert(members.count(_.getBoolean(3)) == 1)  // exactly one survivor
      assert(members.forall(_.getLong(2) == members.length)) // size consistent
    }
    // the corpus has planted near-dups: some cluster is non-trivial
    assert(byCluster.exists(_._2.length > 1))
  }

  // ---- Similarity ----

  test("cosine: identical vectors score 1, orthogonal score 0") {
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.thresholdPairsExact(df, -1.0).orderBy("id_a", "id_b")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 0.0)
  }

  test("banded thresholdPairs ⊆ exact with identical scores, high recall") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val exact = Similarity.thresholdPairsExact(emb, 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val banded = Similarity.thresholdPairs(emb, 0.4, bands = 8,
      planesPerBand = 2, dims = 64).collect()
    assert(banded.nonEmpty)
    banded.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key) && exact(key) == r.getDouble(2),
        s"banded pair $key not in exact set or score differs")
    }
    // 8 bands × 2 planes at cosine ≥ 0.4 gives per-pair recall
    // 1-(1-(1-θ/π)²)⁸ ≥ 0.98 — require ≥ 0.9 to keep the spec stable
    assert(banded.length >= (exact.size * 0.9).toInt,
      s"recall too low: ${banded.length}/${exact.size}")
  }

  test("topK: rank 1 is the nearest neighbor, k bounds the output") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val out = Similarity.topK(emb, emb.filter(col("vec_id") < 3), 5)
    val rows = out.collect()
    assert(rows.length == 15) // 3 queries × k=5
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      // scores non-increasing with rank
      assert(sorted.sliding(2).forall(p => p(0).getDouble(2) >= p(1).getDouble(2)))
    }
  }

  test("lshTopK results are a subset of brute-force candidates with equal scores") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.topK(emb, queries, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(emb, queries, 10, 4, 64).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2))
    }
  }

  test("ivfTopK results are true scored pairs; every cell holds its members") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.topK(emb, queries, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopK(emb, queries, 10, 16, 4).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2))
    }
    // the inverted file partitions the corpus: every vector in exactly one cell
    val nemb = Similarity.normalized(emb)
    val cents = Similarity.ivfCentroids(nemb, 16)
    val cells = Similarity.ivfAssign(nemb, cents, 1)
    assert(cells.count() == emb.count())
    assert(cells.select("vec_id").distinct().count() == emb.count())
  }

  test("persisted cell index: cellPairsIndexed ≡ cellPairs bit-for-bit") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cellidx-spec").toString
    Similarity.writeCellIndex(emb, dir, nlist = 16, nprobe = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = canon(Similarity.cellPairs(emb, 0.4, nlist = 16, nprobe = 2))
    val indexed = canon(
      Similarity.cellPairsIndexed(spark, dir, 0.4, nprobe = 2))
    assert(indexed.nonEmpty && indexed == direct,
      "the persisted probe structure must reproduce the in-memory pairs")
    // the SQ8 pre-screen must be invisible in the result — its
    // quantization bound forbids false negatives at any threshold
    val screened = canon(
      Similarity.cellPairsIndexedScreened(spark, dir, 0.4, nprobe = 2))
    assert(screened == direct, "SQ8 screen changed the pair set")
    val screenedMem = canon(
      Similarity.cellPairsScreened(emb, 0.4, nlist = 16, nprobe = 2))
    assert(screenedMem == direct)
    val audit = Similarity.sq8ScreenAudit(spark, dir, 0.4, nprobe = 2)
      .collect().head
    assert(audit.getBoolean(1), "screen dropped a true pair")
    assert(audit.getLong(0) == direct.size.toLong)
  }

  test("SQ8 screen is lossless on adversarial near-threshold vectors") {
    import spark.implicits._
    // pairs engineered to score exactly AT, just under and just over
    // the threshold, plus anti-parallel and orthogonal vectors — the
    // screen may only ever discard pairs whose exact rounded score
    // misses the threshold
    val dims = 8
    def v(parts: Double*): Array[Double] = {
      val a = parts.toArray.padTo(dims, 0.0)
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    val vecs = Seq(
      1L -> v(1, 0), 2L -> v(0.4, math.sqrt(1 - 0.16)), // dot = 0.4 exactly
      3L -> v(0.399999, math.sqrt(1 - 0.399999 * 0.399999)),
      4L -> v(0.400001, math.sqrt(1 - 0.400001 * 0.400001)),
      5L -> v(-1, 0), 6L -> v(0, 1), 7L -> v(1, 0),
      8L -> v(0.5, 0.5), 9L -> v(0.5, -0.5))
      .toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.4, 0.0, 0.9, -0.5)) {
      // nlist 1 → every pair is a candidate (the screen does all work)
      val plain = canon(Similarity.cellPairs(vecs, t, nlist = 1, nprobe = 1))
      val scr = canon(Similarity.cellPairsScreened(vecs, t, nlist = 1, nprobe = 1))
      assert(scr == plain, s"screen diverged at threshold $t")
    }
  }

  test("persisted IVF index: probe ≡ ivfTopK, scan prunes to probed cells") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-idx-spec").toString
    Similarity.writeIvfIndex(emb, dir, nlist = 16)
    val indexed = Similarity.ivfTopKIndexed(dir, queries, 10, 4)
    val direct = Similarity.ivfTopK(emb, queries, 10, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == direct, "index probe must equal the in-memory IVF answer")
    // the probe reads only the probed cells: a literal partition filter
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected a cell partition filter in:\n$plan")
    // 3 queries × nprobe 4 probe ≤ 12 of the 16 cells
    val probed = "cell#[0-9]+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan).map(_.group(1).split(",").length)
    assert(probed.exists(n => n <= 12 && n >= 1),
      s"probed-cell IN-list missing or unpruned: $probed")
  }

  test("persisted IVF-PQ index: probe ≡ ivfPqTopK, codes-only pruned scan") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-idx-spec").toString
    Similarity.writeIvfPqIndex(emb, dir, nlist = 16)
    val indexed = Similarity.ivfPqTopKIndexed(dir, queries, 10, nprobe = 4)
    val direct = Similarity.ivfPqTopK(emb, queries, 10, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == direct, "IVF-PQ index probe must equal the in-memory answer")
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected a cell partition filter in:\n$plan")
    // the corpus side is scanned as CODES (id, sub, code) — the only
    // embedding reads are the 3-row query-side scans (vec_id < 3
    // pushed down); the stored corpus vectors do not exist in this
    // index at all, so no scan can read them
    assert("ReadSchema: struct<vec_id:bigint,sub:int,code:int".r
      .findFirstIn(plan).isDefined,
      s"expected a codes-relation scan in:\n$plan")
    plan.linesIterator
      .filter(_.contains("ReadSchema: struct<vec_id:bigint,embedding"))
      .foreach(l => assert(l.contains("LessThan(vec_id,3)"),
        s"unfiltered embedding (corpus-sized) scan in the probe: $l"))
  }

  test("persisted search index: probe ≡ bm25, scans prune to term buckets") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-search-idx-spec").toString
    graft.ext.Search.writeSearchIndex(docs, dir)
    val terms = Seq("spark", "window", "merge")
    val direct = graft.ext.Search.bm25(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = graft.ext.Search.bm25Indexed(spark, dir, terms, 10)
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == direct, "index probe must equal the direct BM25 ranking")
    // both the postings and df scans carry a literal bucket filter
    val plan = indexed.queryExecution.executedPlan.toString
    val filters = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*IN".r
      .findAllIn(plan).length
    assert(filters >= 2, s"expected bucket partition filters in:\n$plan")
  }

  test("appendToIvfIndex: no rebuild, no lost vectors, full-probe recall 1") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-append-spec").toString
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), dir, nlist = 16)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), dir)
    // every vector lives in exactly one cell after the append
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == emb.count())
    assert(cells.select("vec_id").distinct().count() == emb.count())
    // probing ALL cells = recall 1: exactly the brute-force top-k
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.topK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probed = Similarity.ivfTopKIndexed(dir, queries, 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed == brute,
      "an appended index probed at nprobe=nlist must equal brute force")
  }

  test("removeFromIvfIndex rewrites only affected cells; emptied cells vanish") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-del-spec").toString
    Similarity.writeIvfIndex(emb, dir, nlist = 16)
    val cells = spark.read.parquet(s"$dir/cells")
      .withColumn("cell", col("cell").cast("long"))
    // victim set: every member of the smallest cell (it must vanish
    // entirely) plus one member of the largest (partial rewrite)
    val sizes = cells.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val smallCell = sizes.minBy(t => (t._2, t._1))._1
    val bigCell = sizes.maxBy(t => (t._2, -t._1))._1
    val wholeCell = cells.filter(col("cell") === smallCell)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val oneMore = cells.filter(col("cell") === bigCell)
      .select("vec_id").orderBy("vec_id").limit(1)
      .collect().map(_.getLong(0)).toSeq
    val victims = wholeCell ++ oneMore
    val untouchedBefore = cells
      .filter(!col("cell").isin(smallCell, bigCell))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    Similarity.removeFromIvfIndex(victims, dir, spark)
    val after = spark.read.parquet(s"$dir/cells")
    val afterIds = after.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(!afterIds.contains(_)), "victims must be gone")
    assert(untouchedBefore.subsetOf(afterIds), "unaffected cells intact")
    assert(after.filter(col("cell") === smallCell).count() == 0)
    assert(!new java.io.File(s"$dir/cells/cell=$smallCell").exists(),
      "an emptied cell's directory must be dropped")
    // the shrunken index still serves: full-probe == brute force over
    // the surviving corpus
    val remaining = emb.filter(!col("vec_id").isin(victims: _*))
    val queries = remaining.orderBy("vec_id").limit(2)
    val brute = Similarity.topK(remaining, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probed = Similarity.ivfTopKIndexed(dir, queries, 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed == brute)
  }

  test("topK broadcasts the query side (no corpus shuffle)") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val plan = Similarity.topK(emb, emb.filter(col("vec_id") < 3), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"))
  }

  // ---- TextStats ----

  test("doc stats on a crafted document") {
    val df = Seq(("the cat sat on a mat.", 1)).toDF("text", "id")
    val r = TextStats.withDocStats(df).head
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("n_chars_obs") == 21L)
    assert(r.getAs[Double]("stopword_ratio") == math.rint(2.0 / 6.0 * 1e5) / 1e5)
    assert(r.getAs[Double]("punct_ratio") > 0)
    assert(r.getAs[Double]("quality_score") > 0 && r.getAs[Double]("quality_score") <= 1)
  }

  test("quality_score survives multi-MB documents (no long wrap)") {
    // ~1M chars, ~167k tokens: num reaches ~10⁸·nT·nC ≈ 2·10¹⁹ —
    // past Long.MaxValue. A long blend wraps to garbage; the
    // decimal(38,0) blend must produce the exact rational.
    val word = "abcde "
    val big = word * 170000
    val df = Seq((big, 1)).toDF("text", "id")
    val r = TextStats.withDocStats(df).head
    val nT = BigInt(r.getAs[Long]("n_tokens"))
    val nC = BigInt(big.length)
    val nAlpha = BigInt(170000L * 5)
    // expected = HALF_UP(num/den) at 5 decimals, computed in BigInt
    val num = BigInt(5) * nT.min(100) * nT * nC + BigInt(200) * nAlpha * nT
    val den = BigInt(1000) * nT * nC
    val expected = ((num * 200000 + den) / (den * 2)).toDouble / 100000.0
    assert(r.getAs[Double]("quality_score") == expected,
      "decimal blend must equal the BigInt rational")
    assert(expected > 0 && expected <= 1)
  }

  test("packSequences returns empty on an empty corpus (no NPE)") {
    val toks = docs.select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("doc_id") < 0)
    val out = graft.ext.Packing.packSequences(toks, 512, 8)
    assert(out.count() == 0L)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_tokens", "pack_id", "pack_offset"))
  }

  test("langId is deterministic and uses a broadcast profile join") {
    val out = TextStats.langId(spark, docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // deterministic: same result on re-run
    assert(out.collect().sameElements(rows))
  }

  test("fingerprints: order/repetition-invariant, content-sensitive") {
    val df = Seq((1L, "b a c"), (2L, "a b c c a"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val fp = TextStats.fingerprints(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L)) // same token set
    assert(fp(1L) != fp(3L))
  }

  // ---- Multimodal ----

  test("chunkDedup: shared chunks reported once with exact copy counts, unique ones silent") {
    // 8-byte chunks: assets 1/2 share their first chunk ("AAAAAAAA"),
    // asset 3 is unique; asset 1's identical chunk appearing twice
    // WITHIN the asset counts both copies but one distinct asset
    val df = Seq(
      (1L, "AAAAAAAAssssssssAAAAAAAA".getBytes("UTF-8")),
      (2L, "AAAAAAAAtttttttt".getBytes("UTF-8")),
      (3L, "zzzzzzzzyyyyyyyy".getBytes("UTF-8"))
    ).toDF("asset_id", "media")
    val out = Multimodal.chunkDedup(df, chunkSize = 8).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 1)
    assert(out(0) == ((3L, 2L, 1L, 8L))) // 3 copies, 2 assets, keep 1, 8 bytes
  }

  test("sniffKind classifies magic bytes without decoding; audit flags liars") {
    val png = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0D, 0x0A, 0x1A, 0x0A, 1, 2, 3).map(_.toByte)
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 9).map(_.toByte)
    val wav = "RIFFxxxxWAVE".getBytes("US-ASCII")
    val text = "just words".getBytes("UTF-8")
    val df = Seq(
      (1L, "image", png), (2L, "image", jpeg),
      (3L, "audio", wav), (4L, "image", text))
      .toDF("asset_id", "kind", "media")
    val out = Multimodal.withSniffedKind(df).orderBy("asset_id").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "png", false),   // sniffed png ≠ declared "image" label
      (2L, "jpeg", false), (3L, "riff", false), (4L, "unknown", false)))
    // a declared column carrying the sniffable name matches
    val honest = Multimodal.withSniffedKind(
      Seq((1L, "png", png)).toDF("asset_id", "kind", "media")).head
    assert(honest.getBoolean(4))
  }

  test("chunking covers the payload with bounded pieces; sampling strides") {
    val df = Seq((0L, "x" * 150)).toDF("doc_id", "text")
      .select(encode(col("text"), "UTF-8").as("media"))
    val r = df.select(
      Multimodal.chunk(col("media"), 64).as("chunks"),
      Multimodal.sampleChunks(col("media"), 64, 2).as("sampled")).head
    val chunks = r.getSeq[Array[Byte]](0)
    assert(chunks.map(_.length).toSeq == Seq(64, 64, 22))
    assert(r.getSeq[Array[Byte]](1).length == 2) // chunks 0 and 2
  }

  test("decodeBatches: real plumbing around the stubbed decode") {
    val decoded = Multimodal.decodeBatches(spark,
      Multimodal.assetTable(docs.limit(50)))
    val rows = decoded.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val hist = r.getSeq[Double](5)
      assert(hist.length == 8)
      assert(math.abs(hist.sum - 1.0) < 1e-9) // normalized histogram
    }
  }

  test("resize stub: aspect-preserving fit inside the target box, no upscale") {
    val decoded = Multimodal.decodeBatches(spark,
      Multimodal.assetTable(docs.limit(20)))
    val resized = Multimodal.resizeDecoded(decoded, 64, 64).collect()
    resized.foreach { r =>
      val (w0, h0) = (r.getAs[Int]("decoded_width"), r.getAs[Int]("decoded_height"))
      val (w1, h1) = (r.getAs[Int]("resized_width"), r.getAs[Int]("resized_height"))
      assert(w1 <= 64 && h1 <= 64 && w1 >= 1 && h1 >= 1)
      assert(w1 <= w0 && h1 <= h0) // never upscale
      if (w0 > 64 || h0 > 64) // downscales preserve aspect within rounding
        assert(math.abs(w1.toDouble / w0 - h1.toDouble / h0) < 0.1)
    }
  }

  test("asset metadata queries prune the payload column from the scan") {
    val assets = Multimodal.assetTable(docs)
    val metaOnly = assets.select("asset_id", "kind", "meta")
    val readSchema = metaOnly.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSet }
      .headOption.getOrElse(Set.empty[String])
    // the payload derives from `text`; a metadata-only query must not
    // read it from parquet at all
    assert(!readSchema.contains("text"), s"scan reads $readSchema")
    assert(readSchema.contains("doc_id"))
  }

  test("cosine_similarity SQL function works via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) c1, " +
        "cosine_similarity(array(1.0d, 0.0d), array(0.0d, 1.0d)) c0").head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  // ---- Events ----

  test("sessionize splits on gaps > 30 min and counts correctly") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(20)),  // session 1: 3 events, 20 min
      (1L, ts(120)), (1L, ts(125)),             // session 2: 2 events, 5 min
      (2L, ts(0))                               // user 2: 1 session
    ).toDF("user_id", "ts")
    val sess = Events.sessionize(df).orderBy("user_id", "session_seq").collect()
    assert(sess.length == 3)
    assert(sess(0).getAs[Long]("n_events") == 3L)
    assert(sess(0).getAs[Double]("session_secs") == 1200.0)
    assert(sess(1).getAs[Long]("n_events") == 2L)
    assert(sess(2).getAs[Long]("n_events") == 1L)
    val summary = Events.sessionSummary(df).collect()
    assert(summary.find(_.getLong(0) == 1L).get.getAs[Long]("n_sessions") == 2L)
  }

  test("normalizeText: case/punct variants converge, distinct content stays apart") {
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO-WORLD"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val out = Dedup.exact(df.withColumn("text", TextStats.normalizeText(col("text"))))
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_copies") == 3L)
    assert(out(1).getAs[Long]("keep_id") == 4L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("quantileGate: integer floor cutoff per group, deterministic ties") {
    val df = (1 to 7).map(i => (i.toLong, "en", 1.0 - i * 0.1)) ++
      Seq((10L, "zh", 0.5), (11L, "zh", 0.5))
    val gated = graft.ext.Curation.quantileGate(
      df.toDF("doc_id", "lang", "score"), "lang", "score", "doc_id", 2, 5)
      .orderBy("doc_id").collect()
    // en: n=7, keep rank*5 <= 14 → rank <= 2 (floor of 2.8);
    // zh: n=2, keep rank*5 <= 4 → nobody (floor of 0.8)
    assert(gated.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    // tie determinism: equal scores rank by doc_id
    val tied = graft.ext.Curation.quantileGate(
      Seq((5L, "x", 1.0), (3L, "x", 1.0), (4L, "x", 1.0), (9L, "x", 0.0))
        .toDF("doc_id", "lang", "score"), "lang", "score", "doc_id", 1, 2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(tied == Set(3L, 4L))
  }

  test("groupQuantiles equals Spark's exact percentile on real events") {
    Tables.register(spark, TestSpark.sfDir)
    val e = spark.table("events")
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val ours = graft.ext.Quantiles.groupQuantiles(e, "event_type", "value", ps)
      .orderBy("event_type").collect()
    val exact = e.groupBy("event_type").agg(
      count(col("value")).as("n"),
      expr("round(percentile(value, 0.25), 5)").as("p25"),
      expr("round(percentile(value, 0.5), 5)").as("p50"),
      expr("round(percentile(value, 0.9), 5)").as("p90"),
      expr("round(percentile(value, 0.99), 5)").as("p99"))
      .orderBy("event_type").collect()
    assert(ours.length == exact.length && ours.length > 0)
    ours.zip(exact).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1))
      Seq("p25", "p50", "p90", "p99").foreach { c =>
        assert(a.getAs[Double](c) == b.getAs[Double](c),
          s"${a.getString(0)}.$c: ${a.getAs[Double](c)} != ${b.getAs[Double](c)}")
      }
    }
  }

  test("groupQuantilesWeighted equals Spark's percentile with frequency") {
    Tables.register(spark, TestSpark.sfDir)
    val d = spark.table("documents").withColumn("__w",
      size(TextStats.tokens(col("text"))).cast("long"))
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)
    val ours = graft.ext.Quantiles.groupQuantilesWeighted(
      d, "lang", "n_chars", "__w", ps).orderBy("lang").collect()
    val exact = d.filter(col("__w") > 0).groupBy("lang").agg(
      sum(col("__w")).as("n"),
      expr("round(percentile(cast(n_chars as double), 0.25, __w), 5)").as("p25"),
      expr("round(percentile(cast(n_chars as double), 0.5, __w), 5)").as("p50"),
      expr("round(percentile(cast(n_chars as double), 0.75, __w), 5)").as("p75"))
      .orderBy("lang").collect()
    assert(ours.length == exact.length && ours.length > 0)
    ours.zip(exact).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), "n must be the total WEIGHT")
      Seq("p25", "p50", "p75").foreach { c =>
        assert(a.getAs[Double](c) == b.getAs[Double](c),
          s"${a.getString(0)}.$c: ${a.getAs[Double](c)} != ${b.getAs[Double](c)}")
      }
    }
    // a weight-w row reads as w repeats: unrolling must agree
    val tiny = Seq(("g", 1.0, 3L), ("g", 10.0, 1L)).toDF("grp", "v", "w")
    val wq = graft.ext.Quantiles.groupQuantilesWeighted(
      tiny, "grp", "v", "w", Seq("p50" -> 0.5)).head
    // unrolled (1,1,1,10): median = 1.0
    assert(wq.getAs[Double]("p50") == 1.0)
  }

  test("groupQuantiles: broadcastGroups=false (high-cardinality path) is identical") {
    Tables.register(spark, TestSpark.sfDir)
    val e = spark.table("events")
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99)
    val hinted = graft.ext.Quantiles.groupQuantiles(e, "event_type", "value", ps)
      .orderBy("event_type").collect().toSeq
    val unhinted = graft.ext.Quantiles.groupQuantiles(e, "event_type", "value", ps,
      broadcastGroups = false).orderBy("event_type").collect().toSeq
    assert(unhinted == hinted,
      "the shuffle-join scale path must compute the same quantiles")
    // assert on the LOGICAL hint, not the physical join choice: at
    // test scale Catalyst's size estimates legitimately pick broadcast
    // even unhinted (and those estimates scale with the data, which is
    // exactly why the unhinted path is safe at 10⁸ groups) — so the
    // contract to pin is "no FORCED broadcast survives to the
    // optimized plan" vs "the default path pins one"
    val unhintedPlan = graft.ext.Quantiles.groupQuantiles(e, "event_type",
      "value", ps, broadcastGroups = false)
      .queryExecution.optimizedPlan.toString
    assert(!unhintedPlan.contains("strategy=broadcast"),
      "broadcastGroups=false must not force a broadcast hint")
    val hintedPlan = graft.ext.Quantiles.groupQuantiles(e, "event_type",
      "value", ps).queryExecution.optimizedPlan.toString
    assert(hintedPlan.contains("strategy=broadcast"),
      "default path must pin broadcast joins (exchange-reuse contract)")
  }

  test("groupQuantiles: single-row and two-row group edges") {
    val df = Seq(("a", 1.0), ("b", 1.0), ("b", 2.0)).toDF("g", "value")
    val out = graft.ext.Quantiles.groupQuantiles(df, "g", "value",
      Seq("p50" -> 0.5, "p100" -> 1.0)).orderBy("g").collect()
    assert(out(0).getAs[Double]("p50") == 1.0 && out(0).getAs[Double]("p100") == 1.0)
    assert(out(1).getAs[Double]("p50") == 1.5 && out(1).getAs[Double]("p100") == 2.0)
  }

  test("histogram: buckets partition the rows, edges exact") {
    val df = Seq(("a", 0.0), ("a", 24.9), ("a", 25.0), ("a", 70.0), ("b", 10.0))
      .toDF("g", "value")
    val out = graft.ext.Quantiles.histogram(df, "g", "value", 25.0)
      .orderBy("g", "bucket").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 0L, 2L), ("a", 1L, 1L), ("a", 2L, 1L), ("b", 0L, 1L)))
    assert(out(1).getAs[Double]("bucket_lo") == 25.0)
  }

  test("equiDepthHistogram: ~equal populations, ties stay in lower bucket") {
    // 8 distinct values → quartiles split 2/2/2/2
    val df = (1 to 8).map(i => ("a", i.toDouble)).toDF("g", "value")
    val out = graft.ext.Quantiles.equiDepthHistogram(df, "g", "value", 4)
      .orderBy("bucket").collect()
    assert(out.map(r => (r.getInt(1), r.getLong(2))).toSeq ==
      Seq((0, 2L), (1, 2L), (2, 2L), (3, 2L)))
    // envelopes tile the domain: each bucket's hi < next bucket's lo
    assert(out.sliding(2).forall(p =>
      p(0).getAs[Double]("hi") < p(1).getAs[Double]("lo")))
    // heavy tie: every copy of the repeated value lands in ONE bucket
    val tied = (Seq.fill(6)(1.0) ++ Seq(2.0, 3.0)).map(("a", _)).toDF("g", "value")
    val t = graft.ext.Quantiles.equiDepthHistogram(tied, "g", "value", 4)
      .orderBy("bucket").collect()
    assert(t.head.getLong(2) == 6L, "all ties in the lowest bucket")
    assert(t.map(_.getLong(2)).sum == 8L, "buckets partition the rows")
  }

  test("morton2 interleaves bits; clusterBy gives tight per-partition envelopes") {
    // 0b0011 and 0b0101 interleave (a even, b odd) to 0b00100111
    val r = Seq((3L, 5L)).toDF("a", "b")
      .select(graft.ext.ZOrder.morton2(col("a"), col("b")).as("z"))
      .head.getLong(0)
    assert(r == Integer.parseInt("00100111", 2).toLong)
    // clustering: each range partition of the curve spans a bounded
    // sub-square, so per-partition (a, b) ranges shrink vs the global
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val clustered = graft.ext.ZOrder.clusterBy(
      grid.toDF("a", "b"), "a", "b", partitions = 16)
    import org.apache.spark.sql.Row
    val spans = clustered.select("a", "b").rdd
      .mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val as = rows.map(_.getLong(0)); val bs = rows.map(_.getLong(1))
          Iterator((as.max - as.min, bs.max - bs.min, rows.size))
        }
      }.collect()
    assert(spans.map(_._3).sum == 64 * 64)
    // every populated partition covers well under the full 0..63 span
    // in at least one dimension (Z-curve locality)
    assert(spans.forall { case (sa, sb, _) => math.min(sa, sb) <= 32 })
  }

  test("skippingReport: z-order skips on BOTH dimensions, linear only on the lead") {
    // uniform 32×32 grid — the canonical layout-comparison setting
    val grid = (for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b))
      .toDF("a", "b")
    val rows = graft.ext.ZOrder.skippingReport(grid, "a", "b",
      files = 16, probes = 20).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    // linear: lead-column probes touch few files, secondary probes ALL
    assert(rows(("linear", "a_only")) <= 2.0)
    assert(rows(("linear", "b_only")) == 16.0)
    // z-order: both dimensions prune to ~sqrt(files) blocks
    assert(rows(("zorder", "a_only")) <= 8.0)
    assert(rows(("zorder", "b_only")) <= 8.0)
    assert(rows(("zorder", "b_only")) < rows(("linear", "b_only")))
    // every probe comes from the data, so it must hit >= 1 file
    rows.values.foreach(v => assert(v >= 1.0))
  }

  test("skippingReport is partitioning-independent") {
    val grid = (for (a <- 0L until 20L; b <- 0L until 20L) yield (a, b))
      .toDF("a", "b")
    val x = graft.ext.ZOrder.skippingReport(grid.repartition(1), "a", "b",
      files = 8, probes = 10).collect().toSeq
    val y = graft.ext.ZOrder.skippingReport(grid.repartition(9), "a", "b",
      files = 8, probes = 10).collect().toSeq
    assert(x == y)
  }

  test("compaction sizes output files from actual bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
    val in = s"$dir/in"; val out = s"$dir/out"
    spark.range(0, 10000).selectExpr("id", "id * 7 AS v")
      .repartition(32).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(inFiles == 32)
    val bytes = graft.ext.Compaction.dataBytes(spark, in)
    assert(bytes > 0)
    val n = graft.ext.Compaction.compact(spark, in, out, targetFileBytes = bytes / 2)
    assert(n == 2)
    val outFiles = new java.io.File(out).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(outFiles == 2)
    assert(spark.read.parquet(out).count() == 10000L)
  }

  test("bucketed range join equals the plain BETWEEN join, no nested loop") {
    Tables.register(spark, TestSpark.sfDir)
    val bands = Seq(("lo", 0.0, 60.0), ("hi", 60.0, 500.0)).toDF("label", "lo", "hi")
    val events = spark.table("events")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("label").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val bucketed = rollup(graft.ext.RangeJoin.bucketed(
      events, bands, "value", "lo", "hi", bucketWidth = 25.0))
    val plain = rollup(events.join(bands,
      col("value") >= col("lo") && col("value") < col("hi")))
    assert(bucketed == plain && bucketed.map(_._2).sum > 0)
    // the bucketed plan joins hash-on-bucket, not nested-loop
    val plan = graft.ext.RangeJoin.bucketed(
      events, bands, "value", "lo", "hi", 25.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("intervalOverlapBucketed: exactly-once pairs equal the theta join") {
    val left = Seq((1L, 0L, 250L), (2L, 90L, 110L), (3L, 400L, 410L))
      .toDF("lid", "l_lo", "l_hi")
    val right = Seq((10L, 100L, 300L), (20L, 0L, 50L), (30L, 240L, 260L))
      .toDF("rid", "r_lo", "r_hi")
    val got = graft.ext.RangeJoin.intervalOverlapBucketed(left, right,
      "l_lo", "l_hi", "r_lo", "r_hi", width = 100L)
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // interval 1 shares buckets 1 AND 2 with interval 10 — the
    // canonical-bucket rule must still emit the pair exactly once
    assert(got == Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L)))
    val plain = left.join(right,
      col("l_lo") < col("r_hi") && col("r_lo") < col("l_hi"))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == plain)
  }

  test("dailyDelta: first day null, deltas reconstruct the series") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-02-$day%02d 01:00:00")
    val df = Seq(("a", ts(1), 1.0), ("a", ts(2), 5.0), ("a", ts(2), 2.0), ("a", ts(4), 10.0))
      .toDF("event_type", "ts", "value")
    val out = Events.dailyDelta(df).orderBy("day_num").collect()
    assert(out(0).isNullAt(3) && out(0).getAs[Long]("n_events") == 1L)
    assert(out(1).getAs[Long]("delta_events") == 1L)
    assert(out(1).getAs[Double]("delta_value") == 6.0)
    assert(out(2).getAs[Long]("delta_events") == -1L)
    assert(out(2).getAs[Double]("delta_value") == 3.0)
  }

  test("applyChangeSet: replace, delete, insert, untouched") {
    import graft.ext.Merge
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", Merge.Upsert),   // replace
      (3L, null.asInstanceOf[String], Merge.Delete), // remove
      (9L, "z", Merge.Upsert)    // insert
    ).toDF("k", "v", Merge.OpCol)
    val out = Merge.applyChangeSet(base, changes, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (9L, "z")))
  }

  test("editDistanceNearDups scores only banded candidates, exact ratio cutoff") {
    // identical docs → distance 0; distinct content either never
    // collides in a band or fails the ratio cutoff
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDups(df).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getAs[Int]("dist") == 0)
  }

  test("saltedJoin equals the plain join and salts the shuffle key") {
    Tables.register(spark, TestSpark.sfDir)
    val dim = Seq(("click", 0.5), ("purchase", 2.0)).toDF("event_type", "weight")
    val events = spark.table("events")
    val salted = graft.ext.Skew.saltedJoin(events, dim, "event_type", "event_id", 8)
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        round(sum((col("value") * col("weight")).cast("decimal(18,6)")).cast("double"), 5).as("wv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = events.join(dim, "event_type")
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        round(sum((col("value") * col("weight")).cast("decimal(18,6)")).cast("double"), 5).as("wv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain && salted.size == 2)
    // the salted plan really joins on (key, salt): no broadcast of the
    // probe side, and the join key set includes the salt column
    val plan = graft.ext.Skew.saltedJoin(events, dim, "event_type", "event_id", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"))
  }

  test("winsorize clips into the group quantile band") {
    val df = (1 to 100).map(i => ("a", i.toDouble)).toDF("g", "value")
    val out = graft.ext.Quantiles.winsorize(df, "g", "value", 0.05, 0.95)
    val rows = out.collect()
    assert(rows.length == 100)
    val clipped = rows.map(_.getAs[Double]("clipped"))
    val lo = rows.head.getAs[Double]("__lo")
    val hi = rows.head.getAs[Double]("__hi")
    assert(lo > 1.0 && hi < 100.0)
    assert(clipped.forall(c => c >= lo && c <= hi))
    assert(clipped.min == lo && clipped.max == hi)
  }

  test("redactPii: emails then long digit runs, short numbers survive") {
    val df = Seq((1L, "mail a.b+c@x-y.org and 12345678 but keep 123 and ph 9999999"))
      .toDF("doc_id", "text")
    val r = TextStats.withRedaction(df).collect()(0)
    assert(r.getAs[Int]("n_emails") == 1)
    assert(r.getAs[Int]("n_longnums") == 2)
    assert(r.getAs[String]("redacted") ==
      "mail <EMAIL> and <NUM> but keep 123 and ph <NUM>")
  }

  test("rollingDaily: absent days fall out of the RANGE frame") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    val df = Seq(
      ("a", ts(1), 1.0), ("a", ts(2), 2.0), ("a", ts(12), 4.0), ("a", ts(14), 8.0))
      .toDF("event_type", "ts", "value")
    val out = Events.rollingDaily(df, windowDays = 7)
      .orderBy("day_num").collect()
    assert(out.length == 4)
    // day 2 sees day 1; day 12 sees only itself (1,2 are out of range)
    assert(out(1).getAs[Double]("roll_sum_value") == 3.0)
    assert(out(1).getAs[Long]("roll_days") == 2L)
    assert(out(2).getAs[Double]("roll_sum_value") == 4.0)
    assert(out(2).getAs[Long]("roll_days") == 1L)
    // day 14 sees day 12
    assert(out(3).getAs[Double]("roll_sum_value") == 12.0)
  }

  test("gapFillDaily: holes synthesized with zero-fill and forward-fill") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    val df = Seq(
      ("a", ts(1), 10.0), ("a", ts(1), 5.0), ("a", ts(4), 2.0), // 2-day hole
      ("b", ts(2), 7.0))                                         // single day
      .toDF("event_type", "ts", "value")
    val out = Events.gapFillDaily(df).orderBy("event_type", "day_num").collect()
    assert(out.length == 5, "a spans 4 days, b spans 1")
    val d0 = java.time.LocalDate.of(2026, 1, 1).toEpochDay
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(1)).toSeq == (d0 to d0 + 3).toSeq)
    // observed day: real count/sum, ffill = its own total
    assert(a(0).getBoolean(2) && a(0).getLong(3) == 2L &&
      a(0).getDouble(4) == 15.0 && a(0).getDouble(5) == 15.0)
    // synthesized days: zero-filled but carrying day 1's total forward
    for (i <- 1 to 2) {
      assert(!a(i).getBoolean(2) && a(i).getLong(3) == 0L)
      assert(a(i).getDouble(4) == 0.0 && a(i).getDouble(5) == 15.0)
    }
    assert(a(3).getBoolean(2) && a(3).getDouble(5) == 2.0)
    val b = out.filter(_.getString(0) == "b")
    assert(b.length == 1 && b(0).getBoolean(2) && b(0).getDouble(4) == 7.0)
  }

  test("hoppingHourly: every event in two windows; straddling burst whole in one") {
    def ts(hm: String) = java.sql.Timestamp.valueOf(s"2026-01-05 $hm:00")
    // a burst straddling the 11:00 tumbling boundary
    val df = Seq(("a", ts("10:50"), 1.0), ("a", ts("11:05"), 2.0))
      .toDF("event_type", "ts", "value")
    val out = Events.hoppingHourly(df).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).sum == 4L, "each event lands in exactly 2 windows")
    val base = ts("10:00").getTime * 1000L
    val m = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(base) == ((1L, 1.0)))
    assert(m(base + 1800L * 1000000L) == ((2L, 3.0)),
      "the 10:30 window holds the whole straddling burst")
    assert(m(base + 3600L * 1000000L) == ((1L, 2.0)))
  }

  test("anomalyFlags: spike fires, flat series and thin baselines do not") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    val df = ((1 to 7).map(d => ("a", ts(d), 10.0)) :+ ("a", ts(8), 100.0))
      .toDF("event_type", "ts", "value")
    val out = Events.anomalyFlags(df, windowDays = 7, k = 2.0, minDays = 3)
      .orderBy("day_num").collect()
    assert(out.length == 8)
    // day 1: empty baseline; days 2-3: fewer than minDays prior days
    assert(!out(0).getBoolean(7) && !out(1).getBoolean(7) && !out(2).getBoolean(7))
    // days 4-7: flat series on a flat baseline — never anomalous
    for (i <- 3 to 6) {
      assert(!out(i).getBoolean(7))
      assert(out(i).getDouble(5) == 10.0 && out(i).getDouble(6) == 0.0,
        s"day ${i + 1}: exact flat baseline")
    }
    // day 8: 100 vs baseline mean 10, sigma 0 → fires
    assert(out(7).getBoolean(7) && out(7).getDouble(5) == 10.0 &&
      out(7).getLong(4) == 7L)
  }

  test("funnelStages: ordered reach, broken funnel nulls later stages") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val df = Seq(
      // u1 completes in order
      (1L, "signup", ts(0)), (1L, "click", ts(5)), (1L, "purchase", ts(9)),
      // u2: purchase BEFORE its click → stage2 null
      (2L, "signup", ts(0)), (2L, "click", ts(8)), (2L, "purchase", ts(3)),
      // u3: no signup → filtered upstream of the flagship query
      (3L, "click", ts(1)),
      // u4: click at the same instant as signup counts (inclusive)
      (4L, "signup", ts(2)), (4L, "click", ts(2))
    ).toDF("user_id", "event_type", "ts")
    val out = Events.funnelStages(df, Seq("signup", "click", "purchase"))
      .orderBy("user_id").collect()
    val byUser = out.map(r => r.getLong(0) -> r).toMap
    assert(byUser(1L).getAs[Long]("stage2_us") > byUser(1L).getAs[Long]("stage1_us"))
    assert(!byUser(2L).isNullAt(2) && byUser(2L).isNullAt(3))
    assert(byUser(3L).isNullAt(1) && byUser(3L).isNullAt(2) && byUser(3L).isNullAt(3))
    assert(byUser(4L).getAs[Long]("stage1_us") == byUser(4L).getAs[Long]("stage0_us"))
  }

  test("asofJoin: crafted inclusive/unmatched/latest-wins cases") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 50L), (4L, 20L, 100L))
      .toDF("id", "key", "t")
    val right = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (30L, 50L, 9.0))
      .toDF("key", "t", "v")
    val out = Events.asofJoin(left, right, "key", "t", "t", Seq("v"))
      .orderBy("id").collect()
    assert(out.length == 4)
    // id=1: equal timestamp matches (inclusive)
    assert(out(0).getAs[Long]("asof_t") == 100L && out(0).getAs[Double]("asof_v") == 1.0)
    // id=2: latest of the two prior clicks wins
    assert(out(1).getAs[Long]("asof_t") == 200L && out(1).getAs[Double]("asof_v") == 2.0)
    // id=3: nothing at-or-before → nulls survive (left outer)
    assert(out(2).isNullAt(out(2).fieldIndex("asof_t")))
    // id=4: key with no right rows at all → nulls
    assert(out(3).isNullAt(out(3).fieldIndex("asof_v")))
  }

  test("asofJoin agrees with the brute-force range-join form on real events") {
    Tables.register(spark, TestSpark.sfDir)
    val e = spark.table("events").withColumn("ts_us", unix_micros(col("ts")))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = e.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val fast = Events.asofJoin(purchases, clicks, "user_id", "ts_us", "ts_us", Seq("v"))
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[Any]("asof_ts_us")), Option(r.getAs[Any]("asof_v")))).toSet
    // Brute force: non-equi join + arg-max per left row (the plan shape
    // asofJoin exists to avoid; fine at spec scale).
    val brute = purchases.as("p")
      .join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") && col("p.ts_us") >= col("c.ts_us"),
        "left")
      .groupBy(col("p.event_id").as("event_id"))
      .agg(max(struct(col("c.ts_us"), col("c.v"))).as("m"))
      .select(col("event_id"), col("m.ts_us").as("mt"), col("m.v").as("mv"))
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[Any]("mt")), Option(r.getAs[Any]("mv")))).toSet
    assert(fast.nonEmpty && fast == brute)
  }

  test("custom sessionizer agrees with the built-in session_window") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val custom = Events.sessionize(events)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val builtin = Events.sessionizeBuiltin(events)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // session_window's gap is start-exclusive in the same way as the
    // lag/cumsum formulation (> gap breaks) — identical sessions
    assert(custom == builtin)
    assert(custom.nonEmpty)
  }

  test("approx profile agrees with the exact profile on non-sketch stats") {
    Tables.register(spark, TestSpark.sfDir)
    val exact = graft.profile.TableProfiler.profileTable(spark, "lineitem")
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = graft.profile.TableProfiler.approxProfile(spark.table("lineitem"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (label <- Seq("1. count", "5. min", "7. max", "8. sum"); i <- 1 to 8)
      assert(exact(label).getDouble(i) == approx(label).getDouble(i),
        s"$label col$i differs between exact and approx profile")
    // the exact path computes decimal-exact mean and two-pass std; the
    // approx path uses double avg/stddev_samp — same value up to float
    // accumulation, not bit-equal by construction
    for (label <- Seq("3. mean", "4. std"); i <- 1 to 8) {
      val (e, a) = (exact(label).getDouble(i), approx(label).getDouble(i))
      assert(math.abs(e - a) <= math.max(1.0, math.abs(e)) * 1e-4,
        s"$label col$i: exact=$e approx=$a")
    }
    // the sketches must land within the column's range (± the
    // log-bucket sketch's relative-error alpha: a bucket's reported
    // midpoint may sit up to alpha below/above the true extremes)
    val a = 0.005
    for (i <- 1 to 8) {
      val m = approx("6. median").getDouble(i)
      val lo = exact("5. min").getDouble(i)
      val hi = exact("7. max").getDouble(i)
      assert(m >= lo - a * math.abs(lo) - 1e-9 &&
        m <= hi + a * math.abs(hi) + 1e-9,
        s"col$i median $m outside [$lo, $hi] ± alpha")
      assert(approx("2. count_distinct").getDouble(i) > 0)
    }
  }

  test("tumblingHourlyExact groups by hour and type") {
    Tables.register(spark, TestSpark.sfDir)
    val out = Events.tumblingHourlyExact(spark.table("events")).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_events")).sum ==
      spark.table("events").count())
  }

  // ---- Sampling ----

  test("hash sampling is deterministic, partitioning-independent, ~rate-sized") {
    val ids1 = Sampling.bernoulliSample(docs, 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // identical membership after an arbitrary repartition (the property
    // Spark's per-partition-RNG sample does NOT have)
    val ids2 = Sampling.bernoulliSample(docs.repartition(7), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    val n = docs.count().toDouble
    assert(ids1.size > n * 0.2 && ids1.size < n * 0.4,
      s"expected ~30% of $n, got ${ids1.size}")
    // different salts give different (independent) samples
    val other = Sampling.bernoulliSample(docs, 0.3, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 != other)
  }

  test("stratified rates apply per stratum; split partitions the corpus") {
    val byLang = Sampling.stratifiedSample(docs, "lang",
      Map("en" -> 1.0, "zh" -> 0.0), defaultRate = 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == full("en")) // rate 1.0 keeps everything
    assert(!byLang.contains("zh"))     // rate 0.0 keeps nothing
    val split = Sampling.trainTestSplit(docs, 0.2)
    assert(split.count() == docs.count()) // split labels, never drops
    val splits = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "test"))
  }

  // ---- Packing ----

  test("packSequences: sharded prefix sum ≡ single-window form, any shard count") {
    val toks = docs.select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    val expected = toks
      .withColumn("s", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr("s div 512").as("pack_id"), (col("s") % 512).as("pack_offset"))
      .orderBy("doc_id").collect().toSeq
    for (shards <- Seq(1, 5, 32)) {
      val got = graft.ext.Packing.packSequences(toks, 512, shards)
        .orderBy("doc_id").collect().toSeq
      assert(got == expected, s"shards=$shards diverged from single-window")
    }
  }

  test("packSequences: offsets stay inside the budget, packs are contiguous") {
    val toks = docs.select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    val out = graft.ext.Packing.packSequences(toks, 512, 8)
      .orderBy("doc_id").collect()
    assert(out.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 512))
    assert(out.head.getLong(2) == 0L) // tape starts at pack 0
    // monotone in id order, and consecutive docs advance the pack by
    // exactly the tokens laid between them: pack(i+1) - pack(i) ==
    // (start(i) + tokens(i)) div budget - pack(i) bounds to the tape law
    out.sliding(2).foreach { case Array(a, b) =>
      val nextStart = a.getLong(2) * 512 + a.getLong(3) + a.getLong(1)
      assert(b.getLong(2) == nextStart / 512 && b.getLong(3) == nextStart % 512,
        s"tape law broken between ${a.getLong(0)} and ${b.getLong(0)}")
    }
  }

  // ---- Chunking ----

  test("chunkDocuments: overlapping windows, trailing runt kept, empty doc = one empty chunk") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // max 4, overlap 1, stride 3: starts 0,3,6
      (2L, "a b"),                  // single chunk, shorter than max
      (3L, "")                      // empty doc: one empty chunk
    ).toDF("doc_id", "text")
    val out = graft.ext.Packing.chunkDocuments(df, maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_index").collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getString(2)).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7"))
    assert(doc1.map(_.getLong(3)).toSeq == Seq(4L, 4L, 1L))
    val doc2 = out.filter(_.getLong(0) == 2L)
    assert(doc2.length == 1 && doc2(0).getString(2) == "a b")
    val doc3 = out.filter(_.getLong(0) == 3L)
    assert(doc3.length == 1 && doc3(0).getString(2) == "" &&
      doc3(0).getLong(3) == 0L)
    // coverage: the first `stride` tokens of every chunk but the last,
    // plus the final chunk in full, reconstruct the document exactly
    val reconstructed = (doc1.dropRight(1).flatMap(
      _.getString(2).split(" ").take(3)) ++
      doc1.last.getString(2).split(" ")).mkString(" ")
    assert(reconstructed == "t1 t2 t3 t4 t5 t6 t7")
    intercept[IllegalArgumentException] {
      graft.ext.Packing.chunkDocuments(df, maxTokens = 4, overlap = 4)
    }
  }

  // ---- Curation ----

  test("curate: rejection priority is near_duplicate > too_short > low_quality") {
    val longText = (1 to 60).map(i => s"the w$i").mkString(" ") // high quality, long
    val df = Seq(
      (1L, longText),                 // survivor of the near-dup pair
      (2L, longText + " tail"),       // near-dup of 1 AND long: near_duplicate
      (3L, "tiny"),                   // too short (and low quality) → too_short
      (4L, (1 to 50).map(i => s"zq$i").mkString(" ")) // long, no stopwords → low_quality
    ).toDF("doc_id", "text")
    val out = graft.ext.Curation.curate(df, minTokens = 40, minQuality = 0.55)
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(3) && out(0).isNullAt(4)) // kept
    assert(!out(1).getBoolean(3) && out(1).getString(4) == "near_duplicate")
    assert(!out(2).getBoolean(3) && out(2).getString(4) == "too_short")
    assert(!out(3).getBoolean(3) && out(3).getString(4) == "low_quality")
  }

  // ---- IVF refinement ----

  test("ivfRefineOnce: no centroid lost, unit norm, partition-independent") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val nc = graft.ext.Similarity.normalized(emb)
    val seeds = graft.ext.Similarity.ivfCentroids(nc, 16)
    val refined = graft.ext.Similarity.ivfRefineOnce(nc, seeds)
    val rows = refined.collect()
    assert(rows.length == 16, "every seed cell is non-empty (seed scores 1.0 in it)")
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"centroid ${r.getLong(0)} not unit norm")
    }
    val again = graft.ext.Similarity
      .ivfRefineOnce(nc.repartition(7), seeds)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val first = rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again == first, "decimal-exact means must not depend on partitioning")
  }

  test("kmeansProfile: clusters partition the corpus; cohesion bounds hold") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val prof = Similarity.kmeansProfile(emb, nlist = 16, refine = 2).collect()
    assert(prof.length <= 16 && prof.nonEmpty)
    assert(prof.map(_.getLong(1)).sum == emb.count(),
      "every vector lands in exactly one cluster")
    prof.foreach { r =>
      val size = r.getLong(1)
      val mean = r.getDouble(2)
      val min = r.getDouble(3)
      assert(size >= 1L)
      assert(mean <= 1.0 + 1e-9 && min <= mean + 5e-6,
        s"cluster ${r.getLong(0)}: mean $mean min $min")
    }
    // decimal-exact Lloyd means + HALF_UP roll-up → partitioning-independent
    val again = Similarity
      .kmeansProfile(emb.repartition(7), nlist = 16, refine = 2)
      .collect().map(_.toSeq)
    assert(again.toSeq == prof.map(_.toSeq).toSeq)
  }

  test("clusterSample: cap respected per cluster, picks are md5-deterministic") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val cap = 20
    val out = Similarity.clusterSample(emb, nlist = 16, refine = 2, cap = cap)
    val rows = out.collect()
    val perCluster = rows.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= cap))
    // the kept set is exactly the cap smallest md5(id) of each cluster
    val assigned = Similarity.kmeansAssign(emb, 16, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = assigned.groupBy(_._2).values.flatMap { members =>
      members.map(_._1).sortBy(id => md5Hex(id.toString)).take(cap)
    }.toSet
    assert(rows.map(_.getLong(0)).toSet == expected)
    // rank ≤ cap over the window must plan as WindowGroupLimit
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  // ---- BM25 search ----

  test("bm25: matched-term count and tf drive rank; non-matching docs absent") {
    val df = Seq(
      (1L, "spark merge window row table"),   // all 3 query terms
      (2L, "spark spark spark row table"),    // one term, high tf
      (3L, "spark row table value part"),     // one term, tf 1
      (4L, "row table value part key")        // no query term
    ).toDF("doc_id", "text")
    val out = graft.ext.Search.bm25(df, Seq("spark", "merge", "window"), 10)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L), "doc 4 has no match")
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byId(1L)._1 == 3L && byId(2L)._1 == 1L)
    assert(byId(1L)._2 > byId(2L)._2, "three rare terms beat one repeated term")
    assert(byId(2L)._2 > byId(3L)._2, "higher tf scores higher, same term")
    // deterministic under repartition
    val again = graft.ext.Search.bm25(df.repartition(7),
      Seq("spark", "merge", "window"), 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == out.map(r => r.getLong(0) -> r.getDouble(2)).toMap)
  }

  test("calibrateScores maps each group's ranks onto [0,1], edges exact") {
    val df = Seq(
      ("en", 1L, 0.2), ("en", 2L, 0.8), ("en", 3L, 0.5),
      ("fr", 4L, 0.9), // single-row group
      ("de", 5L, 0.4), ("de", 6L, 0.4)) // tie breaks on id
      .toDF("lang", "doc_id", "score")
    val out = graft.ext.Curation
      .calibrateScores(df, "lang", "score", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(1L) == 0.0 && out(3L) == 0.5 && out(2L) == 1.0)
    assert(out(4L) == 0.0, "single-row group calibrates to 0, not NaN")
    assert(out(5L) == 0.0 && out(6L) == 1.0, "ties resolve by id")
  }

  test("group-keyed split never straddles a source across train/test") {
    Tables.register(spark, TestSpark.sfDir)
    val split = graft.ext.Sampling.trainTestSplit(
      spark.table("documents"), 0.2, idCol = "source", salt = "gsplit")
    val sides = split.groupBy("source")
      .agg(countDistinct("split").as("n_sides")).collect()
    assert(sides.nonEmpty && sides.forall(_.getLong(1) == 1L))
  }

  test("hybridRerank: only BM25 candidates survive, cosine orders them") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val emb = spark.table("embeddings")
    val terms = Seq("spark", "window", "merge")
    val out = graft.ext.Search.hybridRerank(
      docs, emb, terms, queryVecId = 0L, candidateK = 50, k = 10).collect()
    assert(out.length == 10)
    val candidates = graft.ext.Search.bm25(docs, terms, 50)
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet.subsetOf(candidates),
      "rerank must not resurrect docs BM25 dropped")
    val cosines = out.sortBy(_.getInt(3)).map(_.getDouble(2))
    assert(cosines.sliding(2).forall(p => p(0) >= p(1)),
      "rank follows cosine descending")
  }

  test("rrfFusion: hand-computed ranks, one-list terms, id tie-break") {
    // bm25 list (term "spark", equal lengths): doc1 tf=3 > doc2 tf=1
    //   -> bm25 ranks: doc1=1, doc2=2 ; docs 3,4 unmatched
    // cosine list vs query vec 10=(1,0), listK=2:
    //   doc3=(1,0) cos 1 -> rank 1 ; doc2≈(.9,.44) -> rank 2 ;
    //   doc1=(0,1) cos 0 cut by listK
    val docs = Seq((1L, "spark spark spark"), (2L, "spark x x"),
      (3L, "other a b"), (4L, "other c d")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(0f, 1f)), (2L, Array(0.9f, 0.44f)),
      (3L, Array(1f, 0f)), (4L, Array(-1f, 0f)), (10L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Search.rrfFusion(docs, emb, Seq("spark"),
      queryVecId = 10L, listK = 2, k = 10).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getDouble(3), r.getInt(4))).toSeq
    // doc2 in BOTH lists at rank 2: (120+4)/(62·62) = 124/3844
    // doc1 bm25-only rank 1 and doc3 cosine-only rank 1 tie at 1/61
    //   -> id tie-break puts doc1 ahead
    assert(out.map(t => (t._1, t._2, t._3, t._5)) == Seq(
      (2L, Some(2), Some(2), 1),
      (1L, Some(1), None, 2),
      (3L, None, Some(1), 3)))
    assert(out(0)._4 == math.rint(124.0 / 3844.0 * 1e9) / 1e9)
    assert(out(1)._4 == out(2)._4 && out(1)._4 == math.rint(1.0 / 61.0 * 1e9) / 1e9)
  }

  test("knCrossEntropy: hand-computed interpolated probabilities") {
    // single-bigram docs: cnt2 = {a b:1, b a:1, a c:1}
    //   pref a: ca=2 n1a=2 ; pref b: ca=1 n1a=1 ; cont eb=1 each; E=3
    // P(a b) = (3·1 + 3·2·1)/(4·2·3) = 9/24 = 0.375 -> 0.98083
    // P(b a) = (3·1 + 3·1·1)/(4·1·3) = 6/12 = 0.5   -> 0.69315
    // P(a c) = 9/24 = 0.375                          -> 0.98083
    val df = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = TextStats.knCrossEntropy(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      (1L, 1L, 0.98083), (2L, 1L, 0.69315), (3L, 1L, 0.98083),
      (4L, 0L, 0.0)))
  }

  test("jsDrift: identical sources score 0, disjoint sources the mixture bound") {
    val same = Seq((1L, "x y z", "s1"), (2L, "x y z", "s2"))
      .toDF("doc_id", "text", "source")
    val z = TextStats.jsDrift(same).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(z == Seq(("s1", 3L, 0.0), ("s2", 3L, 0.0)))
    // disjoint equal halves: jsd = [2·ln(4/3) + ln(2/3) + ln 2]/4 vs
    // the pool (which contains the source itself)
    val disj = Seq((1L, "x y z", "s1"), (2L, "p q r", "s2"))
      .toDF("doc_id", "text", "source")
    val d = TextStats.jsDrift(disj).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    val expect = math.rint((2 * math.log(4.0 / 3) + math.log(2.0 / 3) +
      math.log(2)) / 4 * 1e5) / 1e5
    assert(d == Seq(("s1", expect), ("s2", expect)))
  }

  test("shuffleRunsAudit: degenerate single source, brute-force runs match") {
    val mono = (1L to 40L).map(i => (i, s"doc $i", "only"))
      .toDF("doc_id", "text", "source")
    val m = graft.ext.Sharding.shuffleRunsAudit(mono, 4).collect()
    // one source: exactly one run per shard; E[R] = n+1−n²/n = 1
    assert(m.forall(r => r.getLong(2) == 1L && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 1.0))

    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val got = graft.ext.Sharding.shuffleRunsAudit(docs, 4).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    // independent brute force over the materialized shuffle order
    val order = graft.ext.Sharding.shardCorpus(docs, 4)
      .select("shard_id", "shard_pos", "source").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val brute = order.view.mapValues(ss =>
      1L + ss.sliding(2).count(p => p.length == 2 && p(0) != p(1))).toMap
    assert(got == brute)
  }

  test("kmvPeriodOverlap: exact below k, estimates within the KMV envelope") {
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 10:00:00")
    // A = {1,2,3}, B = {2,3,4}: j=2, union 4, jaccard 0.5 — exact at k=64
    val ev = Seq(
      ("x", ts("2024-01-02"), 1L), ("x", ts("2024-01-03"), 2L),
      ("x", ts("2024-01-04"), 3L), ("x", ts("2024-01-20"), 2L),
      ("x", ts("2024-01-21"), 3L), ("x", ts("2024-01-22"), 4L))
      .toDF("event_type", "ts", "user_id")
    val r = graft.ext.Sketches.kmvPeriodOverlap(ev, 64, "2024-01-16")
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 3L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 4.0 &&
      r.getDouble(6) == 2.0)

    // saturated path on the real table: estimates within 10% of exact
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val est = graft.ext.Sketches.kmvPeriodOverlap(events, 64, "2024-01-16")
      .collect().map(r2 => r2.getString(0) -> r2.getDouble(6)).toMap
    val exact = events
      .select(col("event_type"),
        (to_date(col("ts")) < lit("2024-01-16")).as("a"), col("user_id"))
      .groupBy("event_type", "user_id")
      .agg(max(when(col("a"), 1).otherwise(0)).as("ina"),
        max(when(!col("a"), 1).otherwise(0)).as("inb"))
      .filter(col("ina") === 1 && col("inb") === 1)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n) / n < 0.10,
        s"$k: KMV intersection ${est(k)} vs exact $n outside envelope")
    }
  }

  test("frameSamplePlan: stub clock cadence and offsets, videos only") {
    // doc_id 2 -> kind video (2 % 3); 100 bytes -> 800 ms -> frames 0,1
    val docs = Seq((2L, "x" * 100, "en", "s", 100L),
      (1L, "y" * 50, "en", "s", 50L)) // audio: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.Multimodal.frameSamplePlan(
      graft.ext.Multimodal.assetTable(docs), 500L, 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(out == Seq((2L, 0L, 0L, 0L), (2L, 1L, 500L, 62L)))
  }

  test("vocabMassCurve: hand-computed coverage, cut past the vocabulary") {
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextStats.vocabMassCurve(df, Seq(1, 2, 5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(
      (1L, 1L, 3L, 0.5),      // top-1 = a(3) of 6
      (2L, 2L, 5L, 0.83333),  // a+b = 5 of 6
      (5L, 3L, 6L, 1.0)))     // cut beyond vocab pins to |vocab|
  }

  test("tokenBurstiness: bursty token first, ratio ties break by token") {
    val df = Seq((1L, "x x x x"), (2L, "y"), (3L, "y z"))
      .toDF("doc_id", "text")
    val out = TextStats.tokenBurstiness(df, minCf = 1L, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(
      ("x", 4L, 1L, 4.0),
      ("y", 2L, 2L, 1.0), // ties with z at 1.0 -> token order
      ("z", 1L, 1L, 1.0)))
  }

  test("sourceNgramDiversity: repeated trigram counted, short source absent") {
    val df = Seq(
      (1L, "a b c a b c", "s1"), // trigrams: abc, bca, cab, abc
      (2L, "p q", "s2")          // too short for any trigram
    ).toDF("doc_id", "text", "source")
    val out = TextStats.sourceNgramDiversity(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(("s1", 4L, 3L, 0.75)))
  }

  test("canaryScan: exact positions, replace-identity counts, absent canary") {
    val df = Seq((1L, "ab ab ab"), (2L, "aaaa"), (3L, "clean"))
      .toDF("doc_id", "text")
    val out = graft.ext.Decontamination.canaryScan(df, Seq("ab", "aa", "zz"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "ab", 1L, 3L),
      // replace counts NON-overlapping occurrences: aaaa -> 2, not 3
      (2L, "aa", 1L, 2L)))
  }

  test("paretoFront matches the brute-force domination check") {
    val docs = Seq(
      (1L, "a b c d e"),       // len 9,  unique 5
      (2L, "aa bb aa"),        // len 8,  unique 2
      (3L, "x x y y x x y y"), // len 15, unique 2: longest, low diversity
      (4L, "x x x x x x x x"), // len 15, unique 1 (dominated within len)
      (5L, "a b c d e"),       // duplicate of 1: both kept iff on front
      (6L, "ab cd")            // len 5, unique 2 (dominated by 1 and 3)
    ).toDF("doc_id", "text")
    val got = graft.ext.Curation.paretoFront(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // brute force over the tiny set
    val pts = docs.collect().map { r =>
      val t = r.getString(1)
      (r.getLong(0), t.length.toLong,
        t.split(" ").filter(_.nonEmpty).distinct.length.toLong)
    }
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.sortBy(p => (-p._2, p._1)).toSeq
    assert(got == expected && got.map(_._1).toSet == Set(1L, 3L, 5L))
  }

  test("reshardPlan: ring growth moves only onto new shards, far less than mod-N") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val plan = graft.ext.Sharding.reshardPlan(docs, 8, 10, 32).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(plan.map(_._3).sum == docs.count(), "docs conserved")
    // consistent hashing: a key only moves when a NEW shard's vnode
    // claims its arc — every moved row lands on shard 8 or 9
    assert(plan.filter(_._4).forall(p => p._2 >= 8),
      s"moved rows must target new shards: ${plan.filter(_._4).toSeq}")
    val movedFrac = plan.filter(_._4).map(_._3).sum.toDouble /
      plan.map(_._3).sum
    assert(movedFrac < 0.35, s"ring movement $movedFrac should be ~0.2")
    // mod-N baseline moves the vast majority on 8→10
    val mod = graft.ext.Sharding.shardCorpus(docs, 8)
      .select(col("doc_id"), col("shard_id").as("s8"))
      .join(graft.ext.Sharding.shardCorpus(docs, 10)
        .select(col("doc_id"), col("shard_id").as("s10")), "doc_id")
    val modFrac = mod.filter(col("s8") =!= col("s10")).count().toDouble /
      docs.count()
    assert(movedFrac < modFrac / 2,
      s"ring ($movedFrac) must beat mod-N ($modFrac) by 2x+")
  }

  test("bestChangepoint: hand-computed level shift, singleton NULLs") {
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:${i % 60}%02d")
    // type "a": daily counts 1,1,5,5 -> best split after day 2,
    // means 1 and 5, gain = (4·2−1·12)²/(4·2·2) = 256/16 = 16
    val rows =
      Seq.tabulate(1)(i => ("a", ts(1, i))) ++
      Seq.tabulate(1)(i => ("a", ts(2, i))) ++
      Seq.tabulate(5)(i => ("a", ts(3, i))) ++
      Seq.tabulate(5)(i => ("a", ts(4, i))) ++
      Seq(("b", ts(1, 0))) // single day: no valid split
    val df = rows.toDF("event_type", "ts")
    val out = graft.ext.Events.bestChangepoint(df).collect()
    val a = out.find(_.getString(0) == "a").get
    assert(a.getLong(1) == 4L &&
      a.getDate(2).toString == "2024-01-02" &&
      a.getDouble(3) == 1.0 && a.getDouble(4) == 5.0 &&
      a.getDouble(5) == 16.0)
    val b = out.find(_.getString(0) == "b").get
    assert(b.getLong(1) == 1L && b.isNullAt(2) && b.isNullAt(3) &&
      b.isNullAt(4) && b.isNullAt(5))
  }

  // ---- Mergeable sketches ----

  test("HLL sketch rollup: merged daily sketches match direct sketch and near-exact") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val daily = graft.ext.Sketches.dailyUserSketches(events)
    val rolled = graft.ext.Sketches.rollupDistinctUsers(daily)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rolled.keySet == exact.keySet)
    exact.foreach { case (k, (d, n)) =>
      val (approx, nEvents) = rolled(k)
      assert(nEvents == n, "event counts are exact")
      assert(math.abs(approx - d).toDouble / d < 0.05,
        s"$k: approx $approx vs exact $d outside HLL error envelope")
    }
    // mergeability: union of daily sketches estimates like one sketch
    // over the raw data — bit-equal only while every sketch is sparse
    // (true at this sf), within 1% once the union promotes past
    // sparse mode (measured at sf0.1: 1488 merged vs 1494 direct on
    // 1500 exact) — so assert the scale-independent envelope
    val direct = events.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rolled.foreach { case (k, (est, _)) =>
      assert(math.abs(est - direct(k)).toDouble <=
        math.max(1.0, 0.01 * direct(k)),
        s"$k: merged $est vs direct ${direct(k)} diverge past 1%")
    }
  }

  test("KMV rollup: merged dailies ≡ direct sketch; estimate inside the envelope") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val k = 256
    val rolled = graft.ext.Sketches.rollupDistinctKmv(
      graft.ext.Sketches.dailyKmvSketches(events, k), k)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // mergeability is EXACT for KMV: bottom-k of unioned per-day
    // bottom-ks == bottom-k over the raw stream (single "day")
    val direct = graft.ext.Sketches.rollupDistinctKmv(
      graft.ext.Sketches.dailyKmvSketches(
        events.withColumn("ts", lit("1970-01-01").cast("timestamp")), k), k)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rolled == direct)
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.keySet == exact.keySet)
    exact.foreach { case (key, d) =>
      val est = rolled(key)
      if (d < k) assert(est == d.toDouble, s"$key: below k must be exact")
      else assert(math.abs(est - d) / d < 0.25,
        s"$key: estimate $est vs exact $d outside the KMV envelope")
    }
  }

  test("tukeyOutliers: known quartiles, fences flag exactly the planted outliers") {
    // group g: ranks over the 13 sorted values put q1 at rank 3 (=3.0)
    // and q3 at rank 9 (=9.0); IQR 6 → fences −6/18, so only the two
    // planted extremes are flagged
    val rows = ((1 to 11).map(_.toDouble) ++ Seq(-100.0, 100.0))
      .map(v => ("g", v))
    val out = graft.ext.Quantiles.tukeyOutliers(
      rows.toDF("k", "v"), "k", "v").collect().head
    assert(out.getAs[Long]("n") == 13)
    assert(out.getAs[Double]("q1") == 3.0 && out.getAs[Double]("q3") == 9.0)
    assert(out.getAs[Long]("n_low") == 1 && out.getAs[Long]("n_high") == 1)
  }

  test("skewReport: shares and salt factors from a known distribution") {
    // 80 'hot', 10 'a', 10 'b' → mean 33.33; hot needs ⌈80/33.3⌉=3
    val df = (Seq.fill(80)("hot") ++ Seq.fill(10)("a") ++ Seq.fill(10)("b"))
      .toDF("k")
    val out = graft.ext.Skew.skewReport(df, "k", 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out.keySet == Set("hot", "a"))
    assert(out("hot") == ((80L, 0.8, 3L)))
    assert(out("a") == ((10L, 0.1, 1L)))
  }

  test("bloom filter: no false negatives; unrelated text ~never hits") {
    val corpus = docs.limit(200)
    val bloom = graft.ext.Sketches.bloomBuild(corpus, 1L << 17, 5)
    // probing the build corpus itself must flag EVERY doc (the Bloom
    // no-false-negative contract)
    val self = graft.ext.Sketches.bloomProbe(corpus, bloom, 1L << 17, 5)
      .collect()
    assert(self.length == 200 && self.forall(_.getBoolean(1)))
    // texts not in the corpus: at n=200, m=2^17, k=5 the fpr is ~1e-9
    val fresh = (1L to 50L).map(i => (i, s"unseen text number $i"))
      .toDF("doc_id", "text")
    val out = graft.ext.Sketches.bloomProbe(fresh, bloom, 1L << 17, 5)
      .collect()
    assert(out.length == 50 && out.forall(!_.getBoolean(1)))
  }

  test("count-min sketch: upper bound on exact counts; daily merge ≡ direct") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val daily = graft.ext.Sketches.cmsDailyCounts(events, 4, 512)
    val items = events.select("user_id").where(col("user_id") < 20).distinct()
    val est = graft.ext.Sketches.cmsEstimate(daily, items, 4, 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = events.where(col("user_id") < 20)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (u, n) =>
      assert(est(u) >= n, s"user $u: CMS $n must never underestimate")
      assert(est(u) <= n + (math.E / 512 * events.count()).toLong + 1,
        s"user $u: estimate ${est(u)} above the εN envelope")
    }
    // mergeability: summing per-day counters ≡ counting all rows
    val direct = graft.ext.Sketches.cmsDailyCounts(
      events.withColumn("ts", lit("1970-01-01").cast("timestamp")), 4, 512)
    val a = graft.ext.Sketches.cmsEstimate(direct, items, 4, 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == est, "day-partitioned counters must merge to the direct sketch")
  }

  test("lmCrossEntropy: rare-token docs score higher; zero-token doc surfaces") {
    val df = Seq(
      (1L, "the the the the the the the the"), // all common tokens
      (2L, "the the the the the the the zyx"), // one rare token
      (3L, "")).toDF("doc_id", "text")
    val out = TextStats.lmCrossEntropy(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out(0)._2 == 8 && out(1)._2 == 8 && out(2)._2 == 0L)
    assert(out(1)._3 > out(0)._3, "a rare token must raise cross-entropy")
    assert(out(2)._3 == 0.0)
  }

  test("vocabGrowth: vocabulary, hapax, and ratio accounting per source") {
    val df = Seq(
      (1L, "a b c a", "s1"),   // s1: 6 tokens, vocab {a,b,c}, hapax {c}
      (2L, "a b", "s1"),
      (3L, "", "s2")).toDF("doc_id", "text", "source")
    val out = TextStats.vocabGrowth(df).orderBy("source").collect()
    assert(out.length == 2)
    val s1 = out(0)
    assert(s1.getString(0) == "s1" && s1.getLong(1) == 2L)
    assert(s1.getLong(2) == 6L && s1.getLong(3) == 3L && s1.getLong(4) == 1L)
    assert(s1.getDouble(5) == 0.5 && s1.getDouble(6) == math.rint(1e5 / 3) / 1e5)
    val s2 = out(1)
    assert(s2.getString(0) == "s2" && s2.getLong(1) == 1L &&
      s2.getLong(2) == 0L && s2.getDouble(5) == 0.0,
      "token-free source surfaces with zeros")
  }

  test("lm2CrossEntropy: deterministic continuations score 0; order matters") {
    val df = Seq(
      (1L, "x y x y x y"),  // after x always y, after y always x → H = 0
      (2L, "p q p r"),      // after p: q or r (1/2 each) → mean over 3 bigrams
      (3L, "solo"),         // no bigram
      (4L, "")).toDF("doc_id", "text")
    val out = TextStats.lm2CrossEntropy(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 5L, 0.0)), "fully predictable doc scores 0")
    // doc 2 bigrams: pq, qp, pr → -ln(1/2), -ln(1), -ln(1/2) → 2ln2/3
    val h2 = math.rint(2.0 * math.log(2.0) / 3.0 * 1e5) / 1e5
    assert(out(1)._2 == 3L && math.abs(out(1)._3 - h2) < 2e-5)
    assert(out(2) == ((3L, 0L, 0.0)) && out(3) == ((4L, 0L, 0.0)))
  }

  test("pmiBigrams: collocated pair outranks independent pair; floors apply") {
    // "x y" always collocate (4×); "a b" co-occur once among many
    // independent uses of a and b; "solo" appears in a 1-token doc
    // whose degenerate gram must not count as a bigram
    val df = Seq(
      (1L, "x y a q1 b q2 a q3 b q4"),
      (2L, "x y a q5 b q6 a q7 b q8"),
      (3L, "x y a b a q9 b q10"),
      (4L, "x y"),
      (5L, "solo")).toDF("doc_id", "text")
    val out = TextStats.pmiBigrams(df, minCount = 1L, k = 100)
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val m = rows.map(r => (r._1, r._2) -> r).toMap
    assert(m.contains(("x", "y")) && m(("x", "y"))._3 == 4L)
    assert(m.contains(("a", "b")) && m(("a", "b"))._3 == 1L)
    assert(m(("x", "y"))._4 > m(("a", "b"))._4,
      "perfect collocation must outscore incidental adjacency")
    assert(!rows.exists(r => r._1 == "solo" || r._2 == "solo"),
      "degenerate single-token gram is not a bigram")
    // the top-k order is (pmi desc, token_a, token_b)
    assert(rows.sortBy(r => (-r._4, r._1, r._2)).toSeq == rows.toSeq)
  }

  test("tokenEntropy: uniform=ln k, repeated=0, empty doc zeros") {
    val df = Seq(
      (1L, "a b c d"),          // uniform over 4 → H = ln 4
      (2L, "the the the the"),  // degenerate → H = 0
      (3L, "a a a b"),          // 3/4·ln(4/3) + 1/4·ln 4
      (4L, "")).toDF("doc_id", "text")
    val out = TextStats.tokenEntropy(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 4L, 4L, math.rint(math.log(4.0) * 1e5) / 1e5)))
    assert(out(1) == ((2L, 4L, 1L, 0.0)))
    val h3 = 0.75 * math.log(4.0 / 3.0) + 0.25 * math.log(4.0)
    assert(math.abs(out(2)._4 - h3) < 1e-5 && out(2)._3 == 2L)
    assert(out(3) == ((4L, 0L, 0L, 0.0)))
  }

  test("Checks.report: each constraint family counts its violations exactly") {
    import graft.ext.Checks
    val child = Seq(
      (1L, Some("A"), 10.0),
      (1L, Some("Z"), 200.0),  // dup key, bad value, out of bounds
      (2L, None, -5.0),        // null flag (not an accepted_values violation), below lo
      (9L, Some("N"), 50.0)    // orphan key (no parent 9)
    ).toDF("k", "flag", "v")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val out = Checks.report(child, Seq(
      Checks.NotNull("flag"),
      Checks.AcceptedValues("flag", Seq("A", "N")),
      Checks.NumericBounds("v", 0.0, 100.0),
      Checks.UniqueKey(Seq("k")),
      Checks.ForeignKey(Seq("k"), parent, Seq("pk"), "parent")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("not_null(flag)") == ((4L, 1L, false)))
    assert(out("accepted_values(flag)") == ((4L, 1L, false)), "null is skipped")
    assert(out("bounds(v)") == ((4L, 2L, false)))
    assert(out("unique(k)") == ((4L, 1L, false)), "two rows share k=1")
    assert(out("fk(k->parent)") == ((4L, 1L, false)), "k=9 is an orphan")
  }

  test("langIdChunks flags code-switching docs a whole-doc argmax hides") {
    // doc 1: first chunk votes en ("the the a"), second votes de
    // ("window window stream"); doc 2 is pure en; doc 3 has no
    // profile tokens at all → unscorable, absent
    val enChunk = "the the a x1 x2 x3 x4 x5"     // 8 tokens = 1 chunk at 8
    val deChunk = "window window stream y1 y2 y3 y4 y5"
    val df = Seq(
      (1L, s"$enChunk $deChunk"),
      (2L, enChunk),
      (3L, "zz1 zz2 zz3")).toDF("doc_id", "text")
    val out = TextStats.langIdChunks(spark, df, chunkTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((2L, 2L, "de", true)),
      "two chunks, two langs, majority tie broken lang-asc, mixed")
    assert(out(2L) == ((1L, 1L, "en", false)))
    // the whole-doc argmax on doc 1 would say just one language
    val whole = TextStats.langId(spark, df.filter(col("doc_id") === 1))
      .collect()
    assert(whole.length == 1, "whole-doc view gives a single verdict")
  }

  test("topDocFreqTokens: df axis, not occurrence axis; fraction of docs") {
    val df = Seq(
      (1L, "ubiq heavy heavy heavy heavy"),
      (2L, "ubiq solo"),
      (3L, "ubiq other")).toDF("doc_id", "text")
    val out = TextStats.topDocFreqTokens(df, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // "heavy" has 4 occurrences but df=1; "ubiq" df=3 wins
    assert(out(0) == (("ubiq", 3L, 1.0)))
    assert(out(1)._2 == 1L, "rank 2 is some df=1 token (tie on token asc)")
    assert(out(1)._1 == "heavy")
  }

  test("compression ratio: repetitive text compresses far below diverse text") {
    val junk = Array.fill(200)("spam").mkString(" ")
    val varied = (1 to 200).map(i => s"tok${i * 7919 % 997}x$i").mkString(" ")
    val df = Seq((1L, junk), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val out = TextStats.withCompressionRatio(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("byte_len"), r.getAs[Long]("deflate_len"),
          r.getAs[Double]("compression_ratio")))).toMap
    assert(out(1L)._3 < 0.05, s"boilerplate must crush: ${out(1L)}")
    assert(out(2L)._3 > 3 * out(1L)._3, "diverse text compresses much worse")
    // deflate("") is 8 bytes of zlib framing; the ratio is gated to 0
    assert(out(3L) == ((0L, 8L, 0.0)), "empty doc surfaces zero ratio")
    // deterministic under repartitioning (fixed zlib settings)
    val again = TextStats.withCompressionRatio(df.repartition(5)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("compression_ratio")).toMap
    assert(again == out.view.mapValues(_._3).toMap)
  }

  test("compression ratio matches independent zlib reference vectors") {
    // Ground truth computed OUTSIDE the JVM (CPython zlib.compress,
    // level 6, zlib wrapper) — the cross-implementation oracle the
    // no-SQL-twin query family otherwise lacks. Both stacks wrap
    // madler zlib with identical defaults, so the deflated LENGTHS
    // must agree byte-for-byte.
    val vectors = Seq(
      ("hello world", 11L, 19L),
      ("the quick brown fox jumps over the lazy dog", 43L, 50L),
      ("a" * 32, 32L, 11L))
    val df = vectors.zipWithIndex
      .map { case ((s, _, _), i) => (i.toLong, s) }.toDF("doc_id", "text")
    val out = TextStats.withCompressionRatio(df).orderBy("doc_id").collect()
    vectors.zipWithIndex.foreach { case ((s, rawLen, defLen), i) =>
      assert(out(i).getAs[Long]("byte_len") == rawLen, s"byte_len($s)")
      assert(out(i).getAs[Long]("deflate_len") == defLen,
        s"deflate_len($s) != CPython zlib reference $defLen")
    }
  }

  test("compression golden fingerprint: corpus deflate mass pinned at sf0.001") {
    // Regression pin for the whole zlib path over REAL fixture data
    // (the reference vectors above cover single strings): any change
    // to the codec settings (level, wrapper, buffer handling) moves
    // the corpus deflate mass and fails here with the exact delta.
    Tables.register(spark, TestSpark.sfDir)
    val r = TextStats.withCompressionRatio(spark.table("documents"))
      .agg(count(lit(1)), sum("byte_len"), sum("deflate_len")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((500L, 153156L, 75598L)),
      "corpus deflate fingerprint moved — codec settings changed?")
  }

  test("stripDuplicateSpans: hot spans excised, shorts pass, boilerplate empties") {
    val boiler = "w1 w2 w3 w4 w5" // shared 5-gram
    val df = Seq(
      (1L, s"u1 u2 $boiler u3 u4"),      // span mid-doc: positions 3-7 drop
      (2L, s"$boiler v1 v2 v3"),          // span at head
      (3L, boiler),                        // pure boilerplate → empty
      (4L, "x1 x2 x3"),                    // shorter than n → untouched
      (5L, "y1 y2 y3 y4 y5 y6 y7")        // unique content → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(df, n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 9L, 5L, "u1 u2 u3 u4")))
    assert(out(1) == ((2L, 8L, 5L, "v1 v2 v3")))
    assert(out(2) == ((3L, 5L, 5L, "")))
    assert(out(3) == ((4L, 3L, 0L, "x1 x2 x3")))
    assert(out(4) == ((5L, 7L, 0L, "y1 y2 y3 y4 y5 y6 y7")))
    // overlapping hot windows cover their union, not double-count:
    // "a b a b a b" vs itself shifted — every position under some
    // hot window goes, the remainder re-joins contiguously
    val df2 = Seq(
      (10L, "s1 s2 s3 s4 s5 s6 tail1 tail2"),
      (11L, "s1 s2 s3 s4 s5 s6 other")).toDF("doc_id", "text")
    val out2 = Dedup.stripDuplicateSpans(df2, n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // windows s1..s5 and s2..s6 are both hot → positions 1-6 covered
    assert(out2(0) == ((10L, 6L, "tail1 tail2")))
    assert(out2(1) == ((11L, 6L, "other")))
  }

  test("dailyTrend: exact OLS on crafted series; single-day types degrade") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // type "up": counts 1,2,3 on consecutive days → slope exactly 1
    val up = (1 to 1).map(i => (100L + i, t("2026-01-01 00:00:00"))) ++
      (1 to 2).map(i => (200L + i, t("2026-01-02 00:00:00"))) ++
      (1 to 3).map(i => (300L + i, t("2026-01-03 00:00:00")))
    val one = Seq((900L, t("2026-01-05 00:00:00")))
    val df = (up.map { case (id, ts) => (id, ts, "up") } ++
      one.map { case (id, ts) => (id, ts, "lonely") })
      .toDF("event_id", "ts", "event_type")
      .withColumn("user_id", lit(1L))
    val out = Events.dailyTrend(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val upRow = out("up")
    assert(upRow.getLong(1) == 3L && upRow.getLong(2) == 6L)
    assert(upRow.getDouble(3) == 1.0, s"slope: ${upRow.getDouble(3)}")
    // intercept: mean(y) − slope·mean(x); y=2 at mid-day x
    val lonely = out("lonely")
    assert(lonely.getLong(1) == 1L && lonely.isNullAt(3) && lonely.isNullAt(4),
      "a single observation has no trend, not a 0/0")
  }

  test("eventTransitions: per-user chains, conditional p, streams independent") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2026-01-01 00:00:00"), 10L, "A"),
      (2L, t("2026-01-01 00:01:00"), 10L, "B"),
      (3L, t("2026-01-01 00:02:00"), 10L, "A"),
      (4L, t("2026-01-01 00:00:00"), 11L, "B"),
      (5L, t("2026-01-01 00:01:00"), 11L, "A"),
      (6L, t("2026-01-01 00:00:00"), 12L, "A"),
      (7L, t("2026-01-01 00:01:00"), 12L, "C")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.eventTransitions(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // user 10: A→B, B→A; user 11: B→A; user 12: A→C. No cross-user edge.
    assert(out == Map(
      ("A", "B") -> ((1L, 0.5)), ("A", "C") -> ((1L, 0.5)),
      ("B", "A") -> ((2L, 1.0))))
  }

  test("debounce: bursts collapse to first, gap reopens, keys independent") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2026-01-01 00:00:00"), 10L, "click"),
      (2L, t("2026-01-01 00:00:30"), 10L, "click"), // 30s after #1 → dropped
      // 30s after #2: still dropped — the gap is vs the PREVIOUS RAW
      // event, so a steady drumbeat stays collapsed
      (3L, t("2026-01-01 00:01:00"), 10L, "click"),
      (4L, t("2026-01-01 00:02:01"), 10L, "click"), // 61s after #3 → kept
      (5L, t("2026-01-01 00:00:10"), 10L, "view"),  // other type → kept
      (6L, t("2026-01-01 00:00:00"), 11L, "click"), // other user → kept
      (7L, t("2026-01-01 00:00:00"), 11L, "click")  // same instant: event_id order → dropped
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.debounce(df, 60).select("event_id", "kept")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true,
      5L -> true, 6L -> true, 7L -> false))
    val sum = Events.debounceSummary(df, 60).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(sum == Map(10L -> ((5L, 3L, 2L)), 11L -> ((2L, 1L, 1L))))
  }

  test("tfidf keywords: rare high-tf term outranks ubiquitous; k caps per doc") {
    val df = Seq(
      (1L, "rare rare rare common"),
      (2L, "common solo"),
      (3L, "common also")).toDF("doc_id", "text")
    val out = TextStats.tfidfKeywords(df, 2).orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // every doc emits ≤ k rows
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
    // doc 1: "rare" tf=3 df=1 → 3·round(ln 3, 9) = 3.295836867 → 3.29584;
    // "common" df=3 → idf 0 → score 0 but still rank 2
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1, "rare", 3L, 1L, 3.29584), (1L, 2, "common", 1L, 3L, 0.0)))
    // doc 2: unique term beats the ubiquitous one
    assert(out.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq ==
      Seq((1, "solo"), (2, "common")))
  }

  test("funnelReport: cumulative drops reconcile with the verdict relation") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val v = graft.ext.Curation.curateFull(docs).collect()
    val funnel = graft.ext.Curation.funnelReport(docs).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3))))
    assert(funnel.map(_._1).toSeq == Seq("input", "near_duplicate",
      "too_short", "low_quality", "repetitive", "high_oov"))
    assert(funnel.head._2 == ((0L, v.length.toLong)))
    val byReason = v.flatMap(r => Option(r.getAs[String]("reject_reason")))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    funnel.tail.foreach { case (stage, (dropped, _)) =>
      assert(dropped == byReason.getOrElse(stage, 0L), s"stage $stage")
    }
    // the funnel's last remaining == kept verdicts
    assert(funnel.last._2._2 == v.count(_.getAs[Boolean]("keep")).toLong)
    // remaining is monotone non-increasing
    val rem = funnel.map(_._2._2)
    assert(rem.zip(rem.tail).forall { case (a, b) => b <= a })
  }

  test("compactDir: many small files fold to few, rows byte-identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-spec").resolve("t").toString
    val df = docs
    df.repartition(37).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
    val (before, after) = graft.ext.Sharding.compactDir(spark, dir)
    assert(before >= 30, s"fixture should start fragmented, had $before")
    assert(after < before && after >= 1, s"$before -> $after")
    val afterRows = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
    assert(afterRows == beforeRows, "compaction must not change a single cell")
    assert(!new java.io.File(dir + "_compact_tmp").exists())
    assert(!new java.io.File(dir + "_compact_old").exists())
  }

  test("fixedSizeSample: exact budget, partition-independent pick set, TOAP plan") {
    val df = docs
    val out = Sampling.fixedSizeSample(df, 50)
    val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.size == 50)
    val again = Sampling.fixedSizeSample(df.repartition(7), 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == ids, "membership is a pure function of (salt, id)")
    // growing the budget only ADDS members (nested pick sets)
    val bigger = Sampling.fixedSizeSample(df, 80)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.subsetOf(bigger))
    assert(out.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "must not fully sort the corpus")
  }

  test("kfold: stable folds in range, roughly balanced, group-keyable") {
    val df = docs
    val out = Sampling.kfold(df, 5).select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.values.forall(f => f >= 0 && f < 5))
    val sizes = out.values.groupBy(identity).view.mapValues(_.size)
    val n = out.size
    sizes.values.foreach(s =>
      assert(s > n / 10 && s < n * 3 / 10, s"fold badly unbalanced: $sizes"))
    // same ids → same folds on a second call (pure function of salt|id)
    val again = Sampling.kfold(df.repartition(7), 5)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == out)
    // keyed on the group column, a whole source shares one fold
    val bySource = Sampling.kfold(df, 5, idCol = "source")
      .groupBy("source").agg(countDistinct(col("fold")).as("nf")).collect()
    assert(bySource.forall(_.getLong(1) == 1L))
  }

  test("curateSemantic: embedding-space duplicate gates before text gates") {
    val good = (1 to 60).map(i => s"the w$i").mkString(" ")
    val para = (1 to 60).map(i => s"the p$i").mkString(" ")  // token-disjoint
    val docs = Seq((1L, good), (2L, para), (3L, "tiny"))
      .toDF("doc_id", "text")
    // doc 2's embedding coincides with doc 1's — a paraphrase text
    // dedup can't see; doc 3 points elsewhere
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val emb = Seq((1L, v), (2L, v), (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Curation.curateSemantic(docs, emb,
      nlist = 4, nprobe = 2,
      minTokens = 40, minQuality = 0.0, threshold = 0.4)
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(3), "survivor of the coincident pair is kept")
    assert(!out(1).getBoolean(3) && out(1).getString(4) == "semantic_duplicate",
      "token-disjoint paraphrase caught in embedding space")
    assert(!out(2).getBoolean(3) && out(2).getString(4) == "too_short")
  }

  // ---- Full curation verdict ----

  test("curateFull: repetitive and high_oov gates fire in priority order") {
    val good = (1 to 60).map(i => s"the w$i").mkString(" ")
    val df = Seq(
      (1L, good),                                   // kept
      (2L, ("the spam " * 40).trim),                // long+quality ok, bigram-dominated
      (3L, (1 to 60).map(_ => "the").mkString(" ")) // degenerate vocab: repetitive
    ).toDF("doc_id", "text")
    // vocab of size 2 over this corpus = {the, spam}; rare w_i tokens
    // in doc 1 are OOV but doc 1 must be judged on earlier gates first
    val out = graft.ext.Curation.curateFull(df,
      minTokens = 40, minQuality = 0.3, maxBigramFrac = 0.5,
      minDistinctRatio = 0.05, maxOovRate = 2.0, vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(out(1).getString(6) == "repetitive", "bigram domination")
    assert(out(2).getString(6) == "repetitive", "vocabulary collapse")
    // with an OOV gate that can fire, the diverse doc trips it LAST
    val out2 = graft.ext.Curation.curateFull(df,
      minTokens = 40, minQuality = 0.3, maxBigramFrac = 0.99,
      minDistinctRatio = 0.0, maxOovRate = 0.4, vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(out2(0).getString(6) == "high_oov",
      "doc 1 passes every earlier gate, then fails OOV")
  }

  test("curateFull gives zero-token docs a verdict instead of dropping them") {
    val df = Seq(
      (1L, (1 to 60).map(i => s"the w$i").mkString(" ")),
      (2L, ""), (3L, "   ")
    ).toDF("doc_id", "text")
    val out = graft.ext.Curation.curateFull(df, minTokens = 2,
      minQuality = 0.0, maxBigramFrac = 1.1, minDistinctRatio = 0.0,
      maxOovRate = 1.1, vocabSize = 5).orderBy("doc_id").collect()
    assert(out.length == 3, "no document may vanish from the audit trail")
    // the two token-less docs are identical content → near-dups of
    // each other: the min-id survivor is judged on the next gate
    // (too_short), the other is rejected as the duplicate
    assert(out(1).getString(6) == "too_short")
    assert(out(2).getString(6) == "near_duplicate")
  }

  test("vocabCoverage emits a zero row for token-less docs") {
    val df = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(df, 2).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 0L &&
      out(1).getDouble(3) == 0.0)
  }

  // ---- Cross-corpus near-dups ----

  test("crossCorpusNearDups pairs across corpora only, near-dups found") {
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text about spark plans and shuffles here")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "the quick brown fox jumps over the lazy dog now"), // near-dup of 1
      (11L, "another disjoint document with its own words entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(a, b, threshold = 0.5).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 10L)
    assert(out(0).getDouble(2) >= 0.5)
    // identical corpora: every doc pairs with its twin, never itself-side
    val self = Dedup.crossCorpusNearDups(a, a, threshold = 0.9).collect()
    assert(self.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 2L)))
  }

  // ---- Decontamination ----

  test("decontamination reports shared-shingle docs and drops exactly those") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta gamma" with test
      (2L, "one two three four five"),  // clean
      (3L, "six seven eight nine")      // clean
    ).toDF("doc_id", "text")
    val test_ = Seq((100L, "alpha beta gamma zeta")).toDF("doc_id", "text")
    val report = graft.ext.Decontamination.contaminationReport(train, test_)
      .collect()
    assert(report.length == 1)
    assert(report(0).getLong(0) == 1L && report(0).getLong(1) == 1L,
      "doc 1 shares exactly one 3-gram shingle with the held-out set")
    val kept = graft.ext.Decontamination.decontaminate(train, test_)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("decontamination of a disjoint corpus keeps everything") {
    val train = Seq((1L, "one two three four")).toDF("doc_id", "text")
    val test_ = Seq((9L, "five six seven eight")).toDF("doc_id", "text")
    assert(graft.ext.Decontamination.contaminationReport(train, test_).count() == 0)
    assert(graft.ext.Decontamination.decontaminate(train, test_).count() == 1)
  }

  // ---- Repetition metrics ----

  test("repetitionStats: hand-computed fractions on a repetitive doc") {
    val df = Seq(
      (1L, "a a a b"),       // top token a:3/4; bigrams: "a a"×2,"a b" → 2/3; distinct 2/4
      (2L, "x y z w")        // all distinct: top token 1/4, top bigram 1/3
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(df).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 2L)
    assert(out(0).getDouble(3) == 0.5)
    assert(out(0).getDouble(4) == 0.75)
    assert(out(0).getDouble(5) == math.rint(2.0 / 3.0 * 1e5) / 1e5)
    assert(out(1).getDouble(3) == 1.0 && out(1).getDouble(4) == 0.25)
    assert(out(1).getDouble(5) == math.rint(1.0 / 3.0 * 1e5) / 1e5)
  }

  test("repetitionStats: single-token doc uses the degenerate bigram window") {
    val out = TextStats.repetitionStats(
      Seq((1L, "solo")).toDF("doc_id", "text")).collect()
    // bigram list degrades to the lone token (same greatest(n-1,1)
    // convention as Dedup.shingles) — fraction 1.0, not null
    assert(out(0).getLong(1) == 1L && out(0).getDouble(5) == 1.0)
  }

  // ---- Connected components: pointer-jump round bound ----

  test("connectedComponents converges on a long chain within O(log diameter) rounds") {
    // an 80-node path graph has diameter 79: neighbor-only min-label
    // propagation needs ~79 rounds, the pointer jump gets there in
    // O(log n). maxIter=10 would fail without the jump.
    val nodes = (1L to 80L).toDF("id")
    val edges = (1L until 80L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // smallGraphMaxEdges = 0 forces the DISTRIBUTED loop (the default
    // would route this tiny graph to driver union-find)
    val cc = Dedup.connectedComponents(nodes, edges, maxIter = 10,
      smallGraphMaxEdges = 0L)
    assert(cc.select("component").distinct().count() == 1L)
    assert(cc.agg(max("component")).head.getLong(0) == 1L,
      "every node must carry the chain's minimum id")
  }

  test("connectedComponents equals brute-force union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val graphGen = for {
      n <- Gen.chooseNum(2, 25)
      m <- Gen.chooseNum(0, 30)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(1, n); b <- Gen.chooseNum(1, n)
        if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield (n, es.distinct)
    (1 to 4).foreach { i =>
      val (n, es) = graphGen.pureApply(Gen.Parameters.default, Seed(7L + i))
      // brute-force union-find on the driver
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map(v => v.toLong ->
        (1 to n).filter(u => find(u) == find(v)).min.toLong).toMap
      val nodes = (1L to n.toLong).toDF("id")
      val edges =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else es.toDF("id_a", "id_b")
      // BOTH regimes must match the reference labeling: the default
      // threshold routes these graphs to driver union-find; forcing
      // smallGraphMaxEdges=0 exercises the distributed loop
      val gotFast = Dedup.connectedComponents(nodes, edges, maxIter = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast == expected, s"graph $i (union-find): n=$n edges=$es")
      val gotDist = Dedup.connectedComponents(nodes, edges, maxIter = 15,
        smallGraphMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == expected, s"graph $i (distributed): n=$n edges=$es")
    }
  }

  // ---- Mixture rebalance semantics ----

  test("rebalanceToMixture keeps the binding stratum whole and downsamples the rest") {
    // en: 10 docs x 100 tokens = 1000; de: 4 docs x 25 tokens = 100.
    // weights (0.9, 0.1): K = min(1000/0.9, 100/0.1) = 1000 tokens,
    // so rate_de = 0.1*1000/100 = 1.0 (binding: fully kept) and
    // rate_en = 0.9*1000/1000 = 0.9.
    val df = ((1L to 10L).map(i => (i, "en", 100L)) ++
      (11L to 14L).map(i => (i, "de", 25L)))
      .toDF("doc_id", "lang", "n_tokens")
    val kept = Sampling.rebalanceToMixture(df, "lang",
      Map("en" -> 0.9, "de" -> 0.1))
    val deKept = kept.filter(col("lang") === "de").count()
    assert(deKept == 4L, "binding stratum must be kept in full (rate = 1)")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.rebalanceToMixture(df.repartition(7), "lang",
      Map("en" -> 0.9, "de" -> 0.1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == again, "membership is a pure function of (salt, id)")
  }

  test("rebalanceToMixture refuses strata without a target weight (at execution)") {
    val df = Seq((1L, "xx", 10L)).toDF("doc_id", "lang", "n_tokens")
    val lazyResult = Sampling.rebalanceToMixture(df, "lang", Map("en" -> 1.0))
    val e = intercept[Exception](lazyResult.count())
    assert(e.getMessage.contains("no target weight for stratum: xx") ||
      Option(e.getCause).exists(_.getMessage.contains("no target weight for stratum: xx")))
  }

  test("rebalanceToMixture of an empty corpus is empty, not an error") {
    val df = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "n_tokens")
    assert(Sampling.rebalanceToMixture(df, "lang", Map("en" -> 1.0)).count() == 0L)
  }

  // ---- Decontamination partition property ----

  test("contamination report and decontaminated corpus partition the train set") {
    Tables.register(spark, TestSpark.sfDir)
    val split = Sampling.trainTestSplit(spark.table("documents"), 0.2)
    val train = split.filter(col("split") === "train").drop("split")
    val test_ = split.filter(col("split") === "test").drop("split")
    val contaminated = graft.ext.Decontamination
      .contaminationReport(train, test_)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = graft.ext.Decontamination.decontaminate(train, test_)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = train.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((contaminated & kept).isEmpty)
    assert((contaminated | kept) == all)
  }

  // ---- Per-group selection / vocabulary coverage ----

  test("topKPerGroup keeps k best per group with deterministic tie-break") {
    val df = Seq(
      (1L, "en", 0.9), (2L, "en", 0.9), (3L, "en", 0.5),
      (4L, "de", 0.7)
    ).toDF("doc_id", "lang", "score")
    val out = graft.ext.Sampling.topKPerGroup(df, "lang", "score", 2)
      .orderBy("lang", "doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(4L, 1L, 2L),
      "ties broken by ascending id; only k rows kept per group")
  }

  test("vocabCoverage: OOV counted against the corpus top-V vocab") {
    val df = Seq(
      (1L, "a a b rare1"),  // vocab(2) = {a, b}: 1 OOV of 4
      (2L, "a b b rare2")
    ).toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(df, 2).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 1L)
    assert(out(0).getDouble(3) == 0.25)
    assert(out(1).getLong(2) == 1L)
  }

  // ---- Sharding ----

  test("shardCorpus: ids in range, positions contiguous, stable under repartition") {
    val df = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val sharded = graft.ext.Sharding.shardCorpus(df, 8).cache()
    val byShard = sharded.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("shard_pos").as("lo"), max("shard_pos").as("hi"))
      .collect()
    assert(byShard.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    byShard.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1,
        s"shard ${r.getInt(0)}: positions must be 0..n-1")
    }
    // deterministic under arbitrary input partitioning
    val again = graft.ext.Sharding.shardCorpus(df.repartition(13), 8)
      .select("doc_id", "shard_id", "shard_pos").orderBy("doc_id")
      .collect().toSeq
    val first = sharded.select("doc_id", "shard_id", "shard_pos")
      .orderBy("doc_id").collect().toSeq
    assert(again == first, "shard assignment/order must not depend on partitioning")
    sharded.unpersist()
  }

  // ---- native word_ngrams expression ----

  test("word_ngrams equals the composable HOF form on every edge case") {
    val hof = (t: org.apache.spark.sql.Column, n: Int) =>
      transform(
        sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(t, i, lit(n))))
    val df = Seq(
      "a b c d e",  // len > n
      "a b c",      // len == n
      "a b",        // len < n  -> one truncated window
      "a",          // single token
      ""            // tokenizes to empty array -> [""]
    ).toDF("text")
      .withColumn("toks", TextStats.tokens(col("text")))
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(Dedup.ngrams(col("toks"), n)).collect().toSeq
      val want = df.select(hof(col("toks"), n)).collect().toSeq
      assert(got == want, s"native word_ngrams diverges from HOF at n=$n")
    }
    // the documented divergence: NULL token array -> NULL (standard
    // propagation), where the HOF form emits [""] because `greatest`
    // SKIPS the null from size(null) — see WordNgrams scaladoc
    val nullToks = Seq(Tuple1(null: String)).toDF("text")
      .withColumn("toks",
        when(col("text").isNotNull, TextStats.tokens(col("text"))))
    assert(nullToks.select(Dedup.ngrams(col("toks"), 2)).collect().head.isNullAt(0))
    assert(nullToks.select(hof(col("toks"), 2)).collect()
      .head.getSeq[String](0) == Seq(""))
    // and it is callable from passthrough SQL via the extension
    val sql = spark.sql(
      "SELECT word_ngrams(array('x', 'y', 'z'), 2) AS g").collect()
    assert(sql.head.getSeq[String](0) == Seq("x y", "y z"))
  }

  // ---- mergeable exact quantiles ----

  test("rollupQuantiles from daily counts equals direct weekly quantiles") {
    Tables.register(spark, TestSpark.sfDir)
    val events = spark.table("events")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9)
    val rolled = graft.ext.Sketches.rollupQuantiles(
      graft.ext.Sketches.dailyValueCounts(events), ps)
      .orderBy("event_type", "bucket_num").collect().toSeq
    // direct: quantiles over the raw rows keyed by the same composite
    // bucket — merging per-day counts must lose NOTHING (exactness is
    // the whole claim vs a percentile sketch)
    val direct = graft.ext.Quantiles.groupQuantilesFromCounts(
      events.where(col("value").isNotNull)
        .groupBy(col("event_type"),
          floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7)
            .cast("long").as("bucket_num"),
          col("value").cast("double").as("v"))
        .agg(count(lit(1)).as("cnt")),
      Seq("event_type", "bucket_num"), "v", "cnt", ps)
      .orderBy("event_type", "bucket_num").collect().toSeq
    assert(rolled.nonEmpty && rolled == direct)
  }

  // ---- duplicated spans ----

  test("duplicateSpanStats counts cross-doc n-gram occurrences per doc") {
    val df = Seq(
      (1L, "a b c d e f"), // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e z"), // 5-grams: "a b c d e", "b c d e z"
      (3L, "p q r s t u")) // no shared spans
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(df, n = 5, minDocs = 2L)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
    assert(out(0).getDouble(3) == 0.5 && out(2).getDouble(3) == 0.0)
    // a span repeated WITHIN one doc only is not cross-doc duplicated
    val self = Seq((1L, "x y z w v x y z w v"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val s = Dedup.duplicateSpanStats(self, n = 5, minDocs = 2L)
      .orderBy("doc_id").collect()
    assert(s(0).getLong(2) == 0L, "within-doc repetition must not count")
  }

  // ---- cohort retention ----

  test("cohortRetention builds the cohort x offset matrix with exact rates") {
    import java.sql.Timestamp
    def ts(day: Int, h: Int = 1) =
      new Timestamp((day.toLong * 86400L + h * 3600L) * 1000L)
    // cohort day 0: users 1,2 (user 1 returns day 1; both return day 2)
    // cohort day 1: user 3 (never returns)
    val df = Seq(
      (1L, ts(0)), (2L, ts(0)), (1L, ts(0, 5)), // dup same-day activity
      (1L, ts(1)), (3L, ts(1)),
      (1L, ts(2)), (2L, ts(2)))
      .toDF("user_id", "ts")
    val out = Events.cohortRetention(df, maxOffsetDays = 14L)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5), (0L, 2L, 2L, 2L, 1.0),
      (1L, 0L, 1L, 1L, 1.0)))
  }

  // ---- SCD2 history ----

  test("scd2History collapses runs into chained versioned intervals") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: A A B A  (run-collapse to A,B,A); user 2: single event
    val df = Seq(
      (10L, 1L, ts(100), "A"), (11L, 1L, ts(200), "A"),
      (12L, 1L, ts(300), "B"), (13L, 1L, ts(400), "A"),
      (20L, 2L, ts(500), "X"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Events.scd2History(df).orderBy("user_id", "version").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getInt(4))).toSeq ==
      Seq((1L, "A", 1), (1L, "B", 2), (1L, "A", 3), (2L, "X", 1)))
    // intervals chain: valid_to == next version's valid_from; final open
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1(0).getLong(3) == u1(1).getLong(2))
    assert(u1(1).getLong(3) == u1(2).getLong(2))
    assert(u1(2).isNullAt(3) && u1(2).getBoolean(5), "last version open + current")
    assert(u1.take(2).forall(!_.getBoolean(5)))
    // same-timestamp tie resolves by event_id on every engine
    val tie = Seq((2L, 1L, ts(100), "B"), (1L, 1L, ts(100), "A"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val t = Events.scd2History(tie).orderBy("version").collect()
    assert(t.map(_.getString(1)).toSeq == Seq("A", "B"))
  }

  test("scd2History single-version key: one open row, no change rows") {
    import java.sql.Timestamp
    val df = Seq((1L, 7L, new Timestamp(1000L), "A"),
      (2L, 7L, new Timestamp(2000L), "A"),
      (3L, 7L, new Timestamp(3000L), "A"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Events.scd2History(df).collect()
    assert(out.length == 1 && out(0).getInt(4) == 1 && out(0).getBoolean(5))
  }

  test("randomProjection: JL scaling preserves expected norms, deterministic") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings").filter(col("vec_id") < 40)
    val proj = graft.ext.Similarity.randomProjection(emb, outDims = 16)
    val p = proj.collect().map(r =>
      r.getLong(0) -> (1 to 16).map(r.getDouble).toArray).toMap
    val full = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // JL norm preservation: with uniform[-1,1) entries (variance 1/3)
    // and 1/sqrt(k) scaling, E||proj||^2 = ||x||^2 / 3. The synthetic
    // embeddings are near-uniform random, so pairwise DISTANCES
    // concentrate and rank-order tests are noise — the norm ratio is
    // the stable JL property to pin.
    def n2(a: Array[Double]) = a.map(x => x * x).sum
    val ids = full.keys.toSeq.sorted
    val meanRatio = ids.map(id => 3.0 * n2(p(id)) / n2(full(id))).sum / ids.size
    assert(meanRatio > 0.8 && meanRatio < 1.2,
      s"mean 3*||proj||^2/||x||^2 = $meanRatio, expected ~1 (JL scaling)")
    // deterministic constant matrix: same input, same sketch
    val again = graft.ext.Similarity.randomProjection(emb.repartition(5), 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ids.forall(id => again(id) == p(id)(0)))
  }

  test("temperatureMixture: smallest stratum keeps all, big strata flatten") {
    // strata sized 100 / 10000 tokens: rates 1.0 and sqrt(100·10000)/10000 = 0.1
    val rows = (1 to 10).map(i => (i.toLong, "small", 10L)) ++
      (11 to 110).map(i => (i.toLong, "big", 100L))
    val df = rows.toDF("doc_id", "lang", "n_tokens")
    val kept = graft.ext.Sampling.temperatureMixture(df, "lang")
    val bySide = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide("small") == 10L, "rate 1.0 stratum keeps every doc")
    // md5 membership at rate 0.1 over 100 docs: expect ~10, bound loosely
    assert(bySide.getOrElse("big", 0L) > 0L && bySide("big") < 30L)
    // deterministic: same input, same kept set
    val again = graft.ext.Sampling.temperatureMixture(df.repartition(7), "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("snapshotDiff: added/removed/changed, null-aware compare") {
    val oldS = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]),
      (4L, Some("d"))).toDF("id", "v")
    val newS = Seq(
      (1L, Some("a")),   // unchanged -> omitted
      (2L, Some("B")),   // changed
      (3L, Some("c")),   // null -> value = changed
      (5L, Some("e")))   // added; 4 removed
      .toDF("id", "v")
    val out = graft.ext.Merge.snapshotDiff(oldS, newS, "id", Seq("v"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (2L, "changed"), (3L, "changed"), (4L, "removed"), (5L, "added")))
    // the "N" null token cannot collide with any real text — even the
    // literal strings "null" / "N" / "" diff against a NULL
    for (tricky <- Seq("null", "N", "", " null")) {
      val lit1 = Seq((1L, tricky)).toDF("id", "v")
      val lit2 = Seq((1L, null.asInstanceOf[String])).toDF("id", "v")
      val d = graft.ext.Merge.snapshotDiff(lit1, lit2, "id", Seq("v")).collect()
      assert(d.length == 1 && d(0).getString(1) == "changed",
        s"NULL must not collide with the string '$tricky'")
    }
    // per-column md5 is injective across column boundaries: values
    // containing any would-be separator cannot re-segment
    val seg1 = Seq((1L, "xy", "z")).toDF("id", "a", "b")
    val seg2 = Seq((1L, "x", "yz")).toDF("id", "a", "b")
    val seg = graft.ext.Merge.snapshotDiff(seg1, seg2, "id", Seq("a", "b"))
      .collect()
    assert(seg.length == 1 && seg(0).getString(1) == "changed",
      "column-boundary re-segmentation must register as a change")
  }

  // ---- Latest-state snapshot ----

  test("latestSnapshot keeps one newest row per key, event_id breaks ties") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val df = Seq(
      (10L, 1L, ts(100), "A", 1.0), (11L, 1L, ts(300), "B", 2.0),
      (12L, 1L, ts(200), "C", 3.0),
      // user 2: two events at the SAME timestamp — higher id wins
      (20L, 2L, ts(500), "X", 4.0), (21L, 2L, ts(500), "Y", 5.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Events.latestSnapshot(df).orderBy("user_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .toSeq == Seq((1L, "B", 2.0), (2L, "Y", 5.0)))
    assert(out(0).getLong(1) == 300L * 1000000L, "ts surfaces in micros")
  }

  test("latestSnapshot plans WindowGroupLimit before the exchange") {
    val plan = Events.latestSnapshot(docs.sparkSession.table("events"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rn=1 filter must trigger the per-partition top-1 pre-filter")
  }

  // ---- round 7 additions ----

  test("keepBestPerCluster keeps exactly one member per cluster, the best one") {
    val clusters = Dedup.nearDupClusters(docs)
    val out = Dedup.keepBestPerCluster(clusters, TextStats.withDocStats(docs))
    val rows = out.collect()
    assert(rows.length == docs.count(), "one verdict row per doc")
    // exactly one kept per cluster
    val perCluster = rows.groupBy(_.getLong(1))
    perCluster.foreach { case (cid, members) =>
      assert(members.count(_.getBoolean(4)) == 1, s"cluster $cid")
      // the kept member has the max score (ties to min id)
      val kept = members.find(_.getBoolean(4)).get
      val best = members.minBy(r => (-r.getDouble(3), r.getLong(0)))
      assert(kept.getLong(0) == best.getLong(0), s"cluster $cid keeps argmax")
    }
    // multi-member clusters exist at this sf, else the test is vacuous
    assert(perCluster.exists(_._2.length > 1))
  }

  test("contaminationFraction is bounded and consistent with the binary report") {
    import graft.ext.{Decontamination, Sampling}
    val split = Sampling.trainTestSplit(docs, 0.2)
    val train = split.filter(col("split") === "train").drop("split")
    val test_ = split.filter(col("split") === "test").drop("split")
    val frac = Decontamination.contaminationFraction(train, test_, threshold = 0.2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val binary = Decontamination.contaminationReport(train, test_)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frac.nonEmpty && frac.size == train.count())
    frac.values.foreach { r =>
      val (nSh, nHits, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nHits >= 0 && nHits <= nSh, s"doc ${r.getLong(0)} hits bounded")
      assert(c >= 0.0 && c <= 1.0, s"doc ${r.getLong(0)} fraction bounded")
    }
    // graded hits == binary report hits, clean docs absent from binary
    frac.foreach { case (id, r) =>
      assert(binary.getOrElse(id, 0L) == r.getLong(2), s"doc $id n_hits")
    }
  }

  test("centroidDrift yields one row per unordered group pair, cosine in [-1, 1]") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val groups = emb.select("label").distinct().count()
    val out = Similarity.centroidDrift(emb, "label").collect()
    assert(out.length == groups * (groups - 1) / 2)
    out.foreach { r =>
      assert(r.getInt(0) < r.getInt(1), "unordered pairs a < b")
      val c = r.getDouble(4)
      assert(c >= -1.000001 && c <= 1.000001, s"cosine $c")
      assert(r.getLong(2) > 0 && r.getLong(3) > 0)
    }
  }

  test("persisted near-dup index probe equals the cross-restricted full pairing") {
    // band keys are per-document, so probing an index built from the
    // corpus slice with the batch slice must give exactly the full
    // corpus's verified pairs restricted to (corpus, batch) membership
    val d = docs
    val dir = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    Dedup.writeNearDupIndex(d.filter(col("doc_id") % 10 =!= 0), dir)
    val probe = Dedup.probeNearDupIndex(spark, dir,
      d.filter(col("doc_id") % 10 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minHashNearDupPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => (p._1 % 10 == 0) != (p._2 % 10 == 0))
      .map(p => if (p._1 % 10 == 0) (p._2, p._1, p._3) else (p._1, p._2, p._3))
      .toSet
    assert(probe == full)
    assert(probe.nonEmpty, "fixture must contain cross near-dups")
  }

  test("containment dominates jaccard on every shared pair") {
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.0,
      maxDocFreq = Dedup.NgramStopShingleCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.0,
      maxDocFreq = Dedup.NgramStopShingleCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(cont.keySet == jac.keySet)
    cont.foreach { case (k, c) =>
      assert(c >= jac(k) - 1e-9, s"pair $k: containment $c < jaccard ${jac(k)}")
      assert(c <= 1.0 + 1e-9)
    }
  }

  test("dimProfile is one exact row per dimension") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val out = Similarity.dimProfile(emb).collect()
    assert(out.length == 64)
    val n = emb.count()
    out.foreach { r =>
      assert(r.getLong(1) == n, "every vector contributes to every dim")
      assert(r.getDouble(3) <= r.getDouble(4), "mn <= mx")
      assert(r.getDouble(6) >= 0.0, "std >= 0")
      val mean = r.getDouble(5)
      assert(mean >= r.getDouble(3) - 1e-9 && mean <= r.getDouble(4) + 1e-9,
        s"dim ${r.getInt(0)}: mean within [mn, mx]")
    }
  }

  test("multi-probe LSH recall is a superset of single-probe LSH") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.topK(emb, q, k = 10))
    val single = pairs(Similarity.lshTopK(emb, q, k = 10, planes = 4, dims = 64))
    val multi = pairs(Similarity.lshMultiProbeTopK(emb, q, k = 10))
    def recall(s: Set[(Long, Long)]) = s.intersect(bf).size.toDouble / bf.size
    // the probe set strictly contains the single bucket, so candidate
    // coverage - and therefore recall against brute force - can only
    // improve
    assert(recall(multi) >= recall(single),
      s"multi ${recall(multi)} < single ${recall(single)}")
  }

  test("sq8TopK agrees with brute force at full-recall rerank width") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") < 2)
    // rerank = whole corpus → candidate set is everything → the exact
    // rerank must reproduce brute force bit-for-bit
    val sq = Similarity.sq8TopK(emb, q, k = 10, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bf = Similarity.topK(emb, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sq == bf)
    // and at the production rerank width, recall@10 stays high (the
    // SQ8 quantization error is sub-1% per dim on unit vectors)
    val sqNarrow = Similarity.sq8TopK(emb, q, k = 10, rerank = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = sqNarrow.intersect(
      bf.map(t => (t._1, t._2))).size.toDouble / bf.size
    assert(overlap >= 0.8, s"recall@10 with rerank=30 was $overlap")
  }

  test("binaryTopK agrees with brute force at full-recall rerank width") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") < 2)
    // rerank = whole corpus → the exact rerank reproduces brute force
    val bin = Similarity.binaryTopK(emb, q, k = 10, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4))).toSet
    val bf = Similarity.topK(emb, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(bin == bf)
  }

  test("binaryTopK: packed-long popcount equals the per-dim sign disagreement count") {
    // 4-dim vectors with hand-countable sign patterns; dims = 4 packs
    // into the low nibble — Hamming(q, a) = 2, Hamming(q, b) = 0,
    // Hamming(q, c) = 4 (all signs flipped)
    val rows = Seq(
      (0L, Array(1.0f, 1.0f, -1.0f, 1.0f)),   // query: + + - +
      (1L, Array(1.0f, -1.0f, -1.0f, -1.0f)), // a: + - - -  → 2 flips
      (2L, Array(2.0f, 0.5f, -3.0f, 0.1f)),   // b: + + - +  → 0 flips
      (3L, Array(-1.0f, -1.0f, 1.0f, -1.0f))  // c: - - + -  → 4 flips
    ).toDF("vec_id", "embedding")
    val out = Similarity.binaryTopK(rows, rows.filter(col("vec_id") === 0),
        k = 3, rerank = 3, dims = 4)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(out == Map(1L -> 2, 2L -> 0, 3L -> 4), s"got $out")
  }

  test("hardNegatives: band filter + ranking equals the filtered brute-force scan") {
    Tables.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") < 3)
    val (lo, hi) = (0.20, 0.35)
    val got = Similarity.hardNegatives(emb, q, k = 10, lo, hi)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.nonEmpty, "band produced no rows — fixture drifted")
    assert(got.forall(t => t._3 >= lo && t._3 < hi))
    // expected = full scored scan, band-filtered, re-ranked
    val expected = Similarity.topK(emb, q, k = n)
      .filter(col("score") >= lo && col("score") < hi)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSet == expected.toSet)
  }

  test("mmrRerank: redundancy penalty picks the diverse candidate over the near-dup") {
    // query 0; a (id 1) is most relevant; b (id 2) is a near-duplicate
    // of a with slightly lower relevance; c (id 3) is less relevant
    // but diverse. MMR must pick a, then c (b's max-sim ≈ 1 kills it).
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.44f, 0.0f, 0.0f)),
      (2L, Array(0.89f, 0.44f, 0.02f, 0.0f)),
      (3L, Array(0.85f, -0.5f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.ext.Search.mmrRerank(rows, Seq(0L),
        candidateK = 3, selectK = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(out == Seq((1, 1L), (2, 3L), (3, 2L)), s"got $out")
    // pure-relevance order would have been a, b, c — MMR reordered
  }

  test("mmrRerank: selection scores are non-increasing and picks never repeat") {
    Tables.register(spark, TestSpark.sfDir)
    val out = graft.ext.Search.mmrRerank(spark.table("embeddings"),
        Seq(0L, 1L), candidateK = 10, selectK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
    assert(out.length == 10)
    for (qid <- Seq(0L, 1L)) {
      val mine = out.filter(_._1 == qid).sortBy(_._2)
      assert(mine.map(_._3).distinct.length == 5, "a pick repeated")
      // from pos 2 on, greedy MMR scores can only fall: per candidate
      // the max-sim penalty is non-decreasing as the selected set
      // widens, and the argmax pool only shrinks. (pos 1 → 2 is NOT
      // monotone in general — negative sims can raise pos 2 above
      // pos 1's penalty-free 0.5·rel.)
      assert(mine.drop(1).map(_._4).sliding(2).forall(p => p(0) >= p(1)),
        s"scores rose: ${mine.map(_._4).toSeq}")
    }
  }

  test("ewmaDaily: halving recurrence, exact values, per-type independence") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-03-$day%02d 10:00:00")
    val df = Seq(
      ("a", ts(1), 2.0), ("a", ts(2), 4.0), ("a", ts(3), 8.0),
      ("a", ts(2), 0.0), // same-day extra event: counted, adds 0 value
      ("b", ts(5), 7.0)
    ).toDF("event_type", "ts", "value")
    val out = Events.ewmaDaily(df).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    // s1 = 2, s2 = (4+2)/2 = 3, s3 = (8+3)/2 = 5.5; b: s1 = 7
    // (n_events: day 2 has TWO events — the 0-value one still counts)
    assert(out.toSeq == Seq(
      ("a", 1L, 2.0, 2.0), ("a", 2L, 4.0, 3.0), ("a", 1L, 8.0, 5.5),
      ("b", 1L, 7.0, 7.0)), s"got ${out.toSeq}")
  }

  test("ewmaDaily is partitioning-independent") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-03-$day%02d 10:00:00")
    val rows = (1 to 20).map(d => ("a", ts(d), d * 1.5)) ++
      (1 to 7).map(d => ("b", ts(d), 100.0 - d))
    val df = rows.toDF("event_type", "ts", "value")
    val one = Events.ewmaDaily(df.coalesce(1)).collect().toSeq
    val many = Events.ewmaDaily(df.repartition(13)).collect().toSeq
    assert(one == many)
  }

  test("kCore: iterative peel prunes chains a single-shot threshold keeps") {
    import spark.implicits._
    // triangle {1,2,3} with a chain 3-4-5 hanging off it; k=2:
    // node 4 starts at degree 2 (a single-shot threshold keeps it),
    // but the peel removes 5 (deg 1), then 4, leaving the triangle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = graft.ext.Graph.kCore(edges, k = 2, rounds = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // fixpoint: extra rounds change nothing
    val more = graft.ext.Graph.kCore(edges, k = 2, rounds = 9)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(more == out)
    // k above the densest core empties the result
    assert(graft.ext.Graph.kCore(edges, k = 3, rounds = 5).isEmpty)
  }

  test("kCore disk-generation regime is bit-identical to the in-memory peel") {
    import spark.implicits._
    // deterministic pseudo-random graph with a chain appendix so the
    // peel takes several rounds to converge (exercises both the A/B
    // generation swap and the converged-peel early exit)
    val core = for (i <- 0L until 12L; j <- (i + 1) until 12L
      if (i * 31 + j * 17) % 3 != 0) yield (i, j)
    val chain = (12L until 20L).map(i => (i - 1, i))
    val edges = (core ++ chain).toDF("id_a", "id_b")
    for (k <- Seq(2, 3, 4); rounds <- Seq(3, 10)) {
      val e = graft.exec.Share.checkpoint(
        edges.select(col("id_a").as("a"), col("id_b").as("b")))
      val mem = graft.ext.Graph.kCoreInMemory(e, k, rounds)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val disk = graft.ext.Graph.kCoreDiskGen(e, k, rounds)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(disk == mem, s"regimes diverged at k=$k rounds=$rounds")
    }
  }

  test("linkPrediction: budget guard caps degree and reports n_capped_nodes") {
    import spark.implicits._
    // star through two hubs: nodes 1..8 all co-occur via hubs 100/101
    val edges = ((1L to 8L).flatMap(i => Seq((i, 100L), (i, 101L))) ++
      Seq((100L, 101L))).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .toDF("id_a", "id_b")
    // unguarded (huge budget): leaves spoke pairs with n_common = 2,
    // audit column present but zero nodes capped (max degree is 9 < 64)
    val free = graft.ext.Graph.linkPrediction(edges, k = 100)
    assert(free.columns.toSeq ==
      Seq("id_a", "id_b", "n_common", "ra_score", "n_capped_nodes"))
    val freeRows = free.collect()
    assert(freeRows.forall(_.getLong(4) == 0L), "no node exceeds the cap")
    assert(freeRows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getLong(2) == 2L), "spokes share both hubs uncapped")
    // tight budget: hubs (degree 9) must be capped below 9 — the
    // audit column says exactly how many nodes lost neighbors, and
    // every score stays a pure function of (data, budget)
    val tight = graft.ext.Graph.linkPrediction(edges, k = 100,
      candBudget = 50L)
    val tightRows = tight.collect()
    assert(tightRows.nonEmpty && tightRows.forall(_.getLong(4) > 0L),
      "a binding budget must report capped nodes")
    // determinism: same inputs, same budget => identical output
    val again = graft.ext.Graph.linkPrediction(edges, k = 100,
      candBudget = 50L).collect().toSeq
    assert(again == tightRows.toSeq)
    // every pinned anti-join regime (three values + auto) returns the
    // same rows — the strategy enum only moves the physical join
    import graft.ext.EdgeJoinStrategy
    for (strat <- Seq(EdgeJoinStrategy.Broadcast,
        EdgeJoinStrategy.ShuffleHash, EdgeJoinStrategy.SortMerge)) {
      val pinned = graft.ext.Graph.linkPrediction(edges, k = 100,
        edgeJoin = strat).collect().toSeq
      assert(pinned == freeRows.toSeq, s"regime $strat diverged")
    }
  }

  test("linkPrediction: non-integral ids fall back to the unpacked plan") {
    import spark.implicits._
    // string ids, one of them non-numeric: cast(node as long) is null
    // for 'hub', and '007' would not round-trip a long cast-back —
    // the pair-key packing gate must not fire (and the degree
    // histogram must not NPE on the null min/max bounds)
    val sEdges = Seq(("007", "hub"), ("7", "hub"), ("9", "hub"))
      .toDF("id_a", "id_b")
    val sRows = graft.ext.Graph.linkPrediction(sEdges, k = 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(sRows.toSet == Set(("007", "7", 1L), ("007", "9", 1L),
      ("7", "9", 1L)), s"string ids must keep exact values: ${sRows.toSeq}")
    // fractional ids in the packable RANGE: cast('long') truncates
    // 1.25 and 1.75 to the same key — the type gate must route to
    // the unpacked groupBy so the pairs stay distinct
    val dEdges = Seq((1.25, 100.0), (1.75, 100.0), (2.5, 100.0))
      .toDF("id_a", "id_b")
    val dRows = graft.ext.Graph.linkPrediction(dEdges, k = 100)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(dRows.toSet == Set((1.25, 1.75, 1L), (1.25, 2.5, 1L),
      (1.75, 2.5, 1L)), s"fractional ids must not merge: ${dRows.toSeq}")
  }

  test("phashNearDupPairs: identical = 0, one-byte edit small, short excluded") {
    import spark.implicits._
    val a = "abcdefghij" * 13            // 130 bytes, > 64-sample grid
    val b = a.updated(10, 'z')           // one sampled byte changed:
                                         // flips at most 2 comparisons
    val far = "zyxw" * 40
    val docs = Seq(
      (1L, a, "en", "s1", a.length.toLong),
      (2L, a, "en", "s1", a.length.toLong),
      (3L, b, "en", "s1", b.length.toLong),
      (4L, "short", "en", "s1", 5L),     // under the sample grid: out
      (5L, far, "en", "s1", far.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = graft.ext.Multimodal.phashNearDupPairs(
      graft.ext.Multimodal.assetTable(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, "identical payloads must pair at distance 0")
    assert(pairs.get((1L, 3L)).exists(h => h >= 0L && h <= 2L),
      s"one-byte edit must stay within 2 flipped comparisons: $pairs")
    assert(pairs((1L, 3L)) == pairs((2L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      "short payloads are out of the perceptual contract")
  }

  test("transitionEntropy: deterministic successor = 0, fair coin = ln 2") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: A B A C  -> from A: {B, C} (fair coin), from B: {A}, from C: end
    // user 2: A B A C  -> doubles every count, same distribution
    val rows = for {
      (u, off) <- Seq((1L, 0), (2L, 100))
      (i, t) <- Seq("A", "B", "A", "C").zipWithIndex.map(_.swap)
    } yield (off + i.toLong, ts(s"2026-01-01 10:0${i}:00"), u, t, 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ext.Events.transitionEntropy(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // from A: 4 transitions, 2 successors, H = ln 2 (quantized at 9,
    // rounded at 5 -> 0.69315)
    assert(out("A") == ((4L, 2L, 0.69315)))
    // from B: always -> A, H = 0
    assert(out("B") == ((2L, 1L, -0.0)) || out("B") == ((2L, 1L, 0.0)))
    assert(!out.contains("C"), "terminal state has no outgoing transitions")
  }

  test("epochPlan: targets, repeat cap and deficit on a hand-built corpus") {
    import spark.implicits._
    // strata: "big" 1000 tokens, "small" 100 tokens; budget 2000,
    // weights 50/50 -> target 1000 each; cap 4 epochs
    val docs = Seq(
      ("big", 600L), ("big", 400L), ("small", 100L)
    ).toDF("lang", "n_tokens")
    val out = graft.ext.Sampling.epochPlan(docs, "lang",
      Map("big" -> 0.5, "small" -> 0.5), budgetTokens = 2000L,
      maxRepeats = 4).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(out(0) == ("big", 1000L, 1000L, 1.0, 1.0, 0L))
    // small: target 1000 over 100 tokens = 10 epochs needed, capped
    // at 4 -> kept 400, deficit 600
    assert(out(1) == ("small", 100L, 1000L, 10.0, 4.0, 600L))
    // unknown stratum raises, naming it
    val err = intercept[Exception] {
      Seq(("xx", 10L)).toDF("lang", "n_tokens")
        .transform(d => graft.ext.Sampling.epochPlan(d, "lang",
          Map("big" -> 1.0), 100L, 2)).collect()
    }
    assert(err.getMessage.contains("xx"))
  }

  test("lshStageAudit: identical pair always collides (recall 1 on this corpus)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base),                      // identical: true pair, same bands
      (3L, "completely different words one two three four five six seven"),
      (4L, "another unrelated document about spark catalyst tungsten codegen")
    ).toDF("doc_id", "text")
    val r = graft.ext.Dedup.lshStageAudit(docs).collect()(0)
    val (nTrue, nCand, nHits) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue == 1L, "exactly the identical pair is a true >= 0.8 pair")
    assert(nHits <= nCand && nHits <= nTrue)
    // identical docs share every band key -> the candidate set MUST
    // contain the true pair -> recall is exactly 1
    assert(r.getDouble(4) == 1.0, s"recall ${r.getDouble(4)} must be 1.0")
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
  }

  test("zipfFit: power-law corpus recovers slope near -1; uniform counts degenerate to NULL") {
    import spark.implicits._
    // one source with freq(i) = 600/i (a Zipf law), one with uniform
    // frequencies (log-freq constant -> varY = 0 -> fit undefined)
    val zipfText = (1 to 50).flatMap(i => Seq.fill(600 / i)(s"w$i")).mkString(" ")
    val flatText = (1 to 30).flatMap(i => Seq.fill(5)(s"u$i")).mkString(" ")
    val docs = Seq((1L, "zipf", zipfText), (2L, "flat", flatText))
      .toDF("doc_id", "source", "text")
    val out = graft.ext.TextStats.zipfFit(docs, topV = 50).orderBy("source")
      .collect()
    val flat = out(0)
    assert(flat.getString(0) == "flat" && flat.getLong(1) == 30L)
    assert(flat.isNullAt(2) && flat.isNullAt(3) && flat.isNullAt(4),
      "uniform frequencies have zero log-freq variance -> NULL fit")
    val zipf = out(1)
    assert(zipf.getString(0) == "zipf" && zipf.getLong(1) == 50L)
    assert(zipf.getDouble(2) > -1.2 && zipf.getDouble(2) < -0.8,
      s"slope ${zipf.getDouble(2)} should be near -1")
    assert(zipf.getDouble(4) > 0.95, s"r2 ${zipf.getDouble(4)} should be high")
  }

  test("ngramNovelty: duplicated docs score 0, a unique doc scores 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),   // exact pair: zero novelty
      (3L, "x y z w q"),                      // fully unique: novelty 1
      (4L, "a b c v1 v2 v3")                  // shares 'a b c' only
    ).toDF("doc_id", "text")
    val out = graft.ext.TextStats.ngramNovelty(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // 5 tokens -> 3 distinct trigrams per doc; doc 4: 6 tokens -> 4
    assert(out(0) == (1L, 3L, 0L, 0.0))
    assert(out(1) == (2L, 3L, 0L, 0.0))
    assert(out(2) == (3L, 3L, 3L, 1.0))
    // doc 4's 'a b c' occurs in docs 1/2 too -> 3 of 4 novel
    assert(out(3) == (4L, 4L, 3L, 0.75))
  }

  test("minKProb: hand-computed tail means, straddling term, zero-token doc") {
    // corpus counts: the=7, foo=2, zyx=1, T=10
    // nlp: the = -ln 0.7, foo = -ln 0.2, zyx = -ln 0.1 (scale-9)
    val df = Seq(
      (1L, "the the the the zyx"),
      (2L, "the the the foo foo"),
      (3L, "")).toDF("doc_id", "text")
    def q9(x: Double) = BigDecimal.valueOf(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r5(x: BigDecimal) = x
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    // kPct=20, n=5 -> m=1: the single least-likely occurrence
    val out20 = TextStats.minKProb(df, kPct = 20).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out20(0) == ((1L, 5L, 1L, r5(q9(-math.log(0.1))))))
    assert(out20(1) == ((2L, 5L, 1L, r5(q9(-math.log(0.2))))))
    assert(out20(2) == ((3L, 0L, 0L, 0.0)), "zero-token doc surfaces with zeros")
    // kPct=40 -> m=2: doc 1 takes zyx then ONE 'the' (the straddling
    // term contributes only its remainder)
    val out40 = TextStats.minKProb(df, kPct = 40).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out40(0)._2 == 2L)
    assert(out40(0)._3 ==
      r5((q9(-math.log(0.1)) + q9(-math.log(0.7))) / 2))
    // doc 2 takes both foo occurrences: mean = nlp(foo)
    assert(out40(1)._3 == r5(q9(-math.log(0.2))))
    // a memorized-template doc (all corpus-frequent tokens) scores
    // BELOW a natural doc with a rare tail at the same length
    assert(out20(1)._4 < out20(0)._4)
  }

  test("fleissKappa: equals the hand-computed three-rater panel value") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val nb = graft.ext.Classify.nbPredict(docs)
      .filter(col("predicted").isNotNull)
      .select(col("doc_id"), col("predicted")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val heur = graft.ext.TextStats.langId(spark, docs)
      .select(col("doc_id"), col("predicted_lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunk = graft.ext.TextStats.langIdChunks(spark, docs, 16)
      .select(col("doc_id"), col("majority_lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val items = nb.keySet.intersect(heur.keySet).intersect(chunk.keySet).toSeq
    val n = items.size.toLong
    assert(n > 0, "the three labelers must overlap on some docs")
    val s = items.map { d =>
      val ls = Seq(nb(d), heur(d), chunk(d))
      if (ls.distinct.size == 1) 9L else if (ls.distinct.size == 2) 5L else 3L
    }.sum
    val tj = items.flatMap(d => Seq(nb(d), heur(d), chunk(d)))
      .groupBy(identity).values.map(_.size.toLong)
    val t2 = tj.map(c => BigInt(c) * c).sum
    def r5(x: Double) = BigDecimal(x)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.ext.Classify.fleissKappa(spark, docs, 16).collect()(0)
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == r5((s - 3 * n).toDouble / (6 * n).toDouble))
    assert(got.getDouble(2) == r5(t2.toDouble / (BigInt(n) * n * 9).toDouble))
    val num = BigInt(3) * n * (s - 3 * n) - 2 * t2
    val den = (BigInt(9) * n * n - t2) * 2
    assert(got.getDouble(3) == r5(num.toDouble / den.toDouble))
    assert(got.getDouble(3) >= -1.0 && got.getDouble(3) <= 1.0)
  }

  test("bloomSkipIndex: lookup ≡ direct filter, absent key prunes everything, scan pruned") {
    val dir = java.nio.file.Files.createTempDirectory("bloomskip-spec").toString
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta gamma"),               // exact dup of 1
      (4L, "eta theta iota"), (5L, "kappa lambda mu"),
      (6L, "nu xi omicron"), (7L, "pi rho sigma"),
      (8L, "tau upsilon phi")).toDF("doc_id", "text")
      .withColumn("content_key", md5(col("text")))
    graft.ext.Sharding.writeShards(docs, s"$dir/data", numShards = 4)
    graft.ext.Sharding.writeBloomSkipIndex(spark, s"$dir/data",
      s"$dir/index", "content_key", mBits = 1L << 12, k = 5)
    val keys = docs.select("doc_id", "content_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every present key: lookup == direct filter over the table
    keys.values.toSeq.distinct.foreach { key =>
      val got = graft.ext.Sharding.lookupByKey(spark, s"$dir/data",
        s"$dir/index", "content_key", key, 1L << 12, 5)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val want = keys.collect { case (d, k) if k == key => d }.toSeq.sorted
      assert(got == want, s"lookup mismatch for $key")
    }
    // the dup pair resolves together
    val dupKey = keys(1L)
    assert(graft.ext.Sharding.lookupByKey(spark, s"$dir/data",
      s"$dir/index", "content_key", dupKey, 1L << 12, 5)
      .count() == 2L)
    // absent key: no false negatives is the guarantee; with 4096 bits
    // over 8 keys the absent probe must prune EVERY shard (fp odds
    // are (n·k/m)^k-class) — zero rows AND zero files scanned
    val absent = graft.ext.Sharding.lookupByKey(spark, s"$dir/data",
      s"$dir/index", "content_key", "not a real key", 1L << 12, 5)
    assert(absent.count() == 0L)
    // pruning is visible in the plan: the present-key scan reads a
    // PartitionFilters subset, not all 4 shard dirs
    val pruned = graft.ext.Sharding.lookupByKey(spark, s"$dir/data",
      s"$dir/index", "content_key", dupKey, 1L << 12, 5)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scan.partitionFilters.nonEmpty, "shard_id IN must be a partition filter")
    assert(scan.selectedPartitions.partitionCount < 4,
      s"expected shard pruning, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("prfExpand: hand-computed RM1 weights, query terms excluded, tie order") {
    val df = Seq(
      (1L, "spark window shuffle shuffle"),
      (2L, "spark merge shuffle codegen"),
      (3L, "plain text nothing here")).toDF("doc_id", "text")
    val out = graft.ext.Search.prfExpand(df, Seq("spark"), fbDocs = 2,
      fbTerms = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // feedback docs = the two BM25 hits (1, 2); weights: shuffle
    // 2/4 + 1/4 = 0.75, then the 0.25 tie class in token order
    assert(out == Seq(("shuffle", 2L, 0.75), ("codegen", 1L, 0.25),
      ("merge", 1L, 0.25)), s"unexpected expansion: $out")
    assert(!out.exists(_._1 == "spark"), "query terms are never expansions")
  }

  test("goldenRecords: equals a driver union-find + majority survivorship") {
    Tables.register(spark, TestSpark.sfDir)
    val part = spark.table("part")
    val fields = Seq("p_brand", "p_type", "p_size")
    val matches = graft.ext.Dedup.linkageScores(part, "p_partkey", "p_name",
      fields, 4, 4).filter(col("verdict") === "match")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = part.select(col("p_partkey") +: col("p_name") +:
      fields.map(col): _*).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4))).toMap
    // driver union-find with min-id roots
    val parent = scala.collection.mutable.Map[Long, Long]() ++
      rows.keys.map(k => k -> k)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    matches.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb)
        parent(math.max(ra, rb)) = lo }
    }
    val clusters = rows.keys.groupBy(find).view.mapValues(_.toSeq.sorted).toMap
    def majS(vs: Seq[String]): String =
      vs.groupBy(identity).toSeq.map { case (v, g) => (v, g.size) }
        .minBy { case (v, c) => (-c, v) }._1
    def majI(vs: Seq[Int]): Int =
      vs.groupBy(identity).toSeq.map { case (v, g) => (v, g.size) }
        .minBy { case (v, c) => (-c, v) }._1
    val got = graft.ext.Dedup.goldenRecords(part, "p_partkey", "p_name",
      fields, 4, 4).collect()
    assert(got.length == clusters.size)
    assert(got.map(_.getLong(1)).sum == rows.size.toLong,
      "every record resolves to exactly one entity")
    got.foreach { r =>
      val cid = r.getLong(0)
      val mem = clusters(cid)
      assert(mem.min == cid, "cluster label must be the min member id")
      assert(r.getLong(1) == mem.size.toLong)
      assert(r.getString(2) == rows(cid)._1, "canonical name = label member's")
      assert(r.getString(3) == majS(mem.map(rows(_)._2)), s"brand maj, c=$cid")
      assert(r.getString(4) == majS(mem.map(rows(_)._3)), s"type maj, c=$cid")
      assert(r.getInt(5) == majI(mem.map(rows(_)._4)), s"size maj, c=$cid")
    }
    assert(got.exists(_.getLong(1) > 1L),
      "fixture must exercise at least one real merge")
  }

  test("labelAgreement: kappa equals the hand-computed chance-corrected value") {
    Tables.register(spark, TestSpark.sfDir)
    val docs = spark.table("documents")
    val nb = graft.ext.Classify.nbPredict(docs)
      .filter(col("predicted").isNotNull)
      .select(col("doc_id"), col("predicted")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val heur = graft.ext.TextStats.langId(spark, docs)
      .select(col("doc_id"), col("predicted_lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val both = nb.keySet.intersect(heur.keySet).toSeq
    val n = both.size.toLong
    assert(n > 0, "labelers must overlap on some docs")
    val agree = both.count(d => nb(d) == heur(d)).toLong
    val rows = both.groupBy(nb).view.mapValues(_.size.toLong).toMap
    val cols = both.groupBy(heur).view.mapValues(_.size.toLong).toMap
    val peNum = rows.map { case (l, r) => r * cols.getOrElse(l, 0L) }.sum
    def r5(x: Double) = BigDecimal(x)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.ext.Classify.labelAgreement(spark, docs).collect()(0)
    assert(got.getLong(0) == n && got.getLong(1) == agree)
    assert(got.getDouble(2) == r5(agree.toDouble / n))
    assert(got.getDouble(3) == r5(peNum.toDouble / (n.toDouble * n)))
    assert(got.getDouble(4) ==
      r5((n.toDouble * agree - peNum) / (n.toDouble * n - peNum)))
    assert(got.getDouble(4) >= -1.0 && got.getDouble(4) <= 1.0)
  }

  test("compaction plan conserves bytes; oversized file spans its own bins") {
    // target 100: s1 has small files (40+40+40 => bins roll at the
    // boundary), s2 a 350-byte monster that must own multiple bin ids
    val m = Seq(("s1", "a", 40L), ("s1", "b", 40L), ("s1", "c", 40L),
      ("s2", "a", 350L), ("s2", "b", 30L))
      .toDF("source", "lang", "file_bytes")
    val out = graft.ext.Compaction.plan(m, "source", "lang", "file_bytes", 100L)
      .collect()
    assert(out.map(_.getLong(2)).sum == 500L, "bytes must be conserved")
    assert(out.map(_.getLong(1)).sum == 5L, "files must be conserved")
    // cum_before: s1 files at 0,40,80 -> bins 0,0,0; s2 at 120,470 ->
    // bins 1,4 (the monster's bin id jumps the skipped 2,3 range)
    val bins = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bins(0L) == ((3L, 120L)) && bins(1L) == ((1L, 350L)) &&
      bins(4L) == ((1L, 30L)), s"unexpected plan: ${bins.toSeq.sorted}")
    // fill ratio is integer HALF_UP at scale 5 of bytes/target
    assert(out.find(_.getLong(0) == 0L).get.getDouble(3) == 1.2)
  }

  test("goodTuring: hand-computed classes, r* and unseen mass") {
    // counts: a=2, b=2, c=1 -> coc r=1:1, r=2:2 ; N = 1·1 + 2·2 = 5
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val rows = TextStats.goodTuring(df, maxR = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows == Seq(
      // r=1: n_next = n_2 = 2 -> r* = 2·2/1 = 4, p_mass = 2·2/5 = 0.8
      (1L, 1L, 2L, 4.0, 0.8),
      // r=2 is the top class: n_3 = 0 -> r* = 0, mass 0
      (2L, 2L, 0L, 0.0, 0.0)))
  }

  test("goodTuring reports the maxR SMALLEST classes, not a fixed cap") {
    // every token count >= 3: a fixed r<=2 filter would return nothing
    val df = Seq((1L, "x x x y y y y")).toDF("doc_id", "text")
    val rows = TextStats.goodTuring(df, maxR = 1).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 3L)
  }

  test("winnowingFingerprints: invariants, repetition collapse, short docs") {
    val rep = "a" * 50 // every 8-gram identical -> exactly 1 fingerprint
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, txt), (2L, txt), (3L, rep), (4L, "tiny")) // 4 < k
      .toDF("doc_id", "text")
    val out = TextStats.winnowingFingerprints(df, k = 8, w = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // identical docs -> identical fingerprint counts
    assert(out(1L).getLong(3) == out(2L).getLong(3))
    val (ng, nw, nf) = (out(1L).getLong(1), out(1L).getLong(2),
      out(1L).getLong(3))
    assert(ng == txt.length - 8 + 1 && nw == ng - 4 + 1)
    // winnowing selects >= 1 per disjoint window block and <= all
    assert(nf >= nw / (2 * 4) && nf <= nw)
    assert(out(1L).getDouble(4) > 0 && out(1L).getDouble(4) <= 1)
    // repetitive text collapses to ONE fingerprint
    assert(out(3L).getLong(3) == 1L)
    // doc shorter than k: zero grams/windows, NULL density, row kept
    assert(out(4L).getLong(1) == 0L && out(4L).getLong(2) == 0L &&
      out(4L).getLong(3) == 0L && out(4L).isNullAt(4))
  }

  test("linkageScores: full agreement outranks disagreement and crosses the verdict bands") {
    // one blocking block (shared name prefix, window covers all):
    // ids 1,2 agree on both fields; 3,4 disagree on both
    val df = Seq(
      (1L, "aaaa one", "rare", "x"),
      (2L, "aaaa two", "rare", "x"),
      (3L, "aaaa three", "p", "y"),
      (4L, "aaaa four", "q", "z"))
      .toDF("id", "name", "f1", "f2")
    val out = Dedup.linkageScores(df, "id", "name", Seq("f1", "f2"),
        window = 4, blockLen = 4,
        upper = BigDecimal("1.0"), lower = BigDecimal("0.0"))
      .collect().map { r =>
        // key by unordered pair: id_a/id_b follow KEY rank, not id
        val (x, y) = (r.getLong(0), r.getLong(1))
        (math.min(x, y), math.max(x, y)) -> r
      }.toMap
    assert(out.size == 6, "window 4 over one 4-row block = all pairs")
    val full = out((1L, 2L))
    assert(full.getLong(2) == 2L)
    assert(full.getString(4) == "match",
      s"double agreement must clear the upper band: $full")
    val none = out((3L, 4L))
    assert(none.getLong(2) == 0L && none.getString(4) == "non_match")
    assert(full.getDouble(3) > out((1L, 3L)).getDouble(3),
      "agreement must outscore partial/disagreement")
    // hand-check the frequency-based agreement weights: both agreeing
    // values ('rare' on f1, 'x' on f2) have c_v = 2 of n = 4, so each
    // field contributes ln(0.9·4/2) quantized at scale 9
    val wa = math.round(math.log(0.9 * 4 / 2) * 1e9) / 1e9
    assert(math.abs(full.getDouble(3) -
      BigDecimal(2 * wa).setScale(5, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9,
      s"score ${full.getDouble(3)} vs expected ${2 * wa}")
  }

  test("incrementalAgg: delta-maintained view equals the full recompute") {
    import graft.ext.Merge
    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "c", 50.0)).toDF("k", "g", "v")
    val changes = Seq(
      (2L, "b", 21.0, "upsert"), // group MOVE a → b with a new value
      (3L, "x", 0.0, "delete"),  // delete payload is ignored
      (6L, "c", 60.0, "upsert"), // brand-new key
      (5L, "c", 55.0, "upsert")  // in-place update
    ).toDF("k", "g", "v", "op")
    val got = Merge.incrementalAgg(base, changes, "k", "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq(("a", 1L, 10.0), ("b", 2L, 61.0), ("c", 2L, 115.0)))
    // and it must equal re-aggregating the fully merged snapshot
    val full = Merge.applyChangeSet(base, changes, "k")
      .groupBy("g").agg(count(lit(1)).as("n_rows"),
        round(sum(col("v").cast("decimal(18,6)")).cast("double"), 5)
          .as("sum_value"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == full)
  }

  test("incrementalAgg: a group emptied by deletes disappears") {
    import graft.ext.Merge
    val base = Seq((1L, "solo", 5.0), (2L, "other", 7.0)).toDF("k", "g", "v")
    val changes = Seq((1L, "x", 0.0, "delete")).toDF("k", "g", "v", "op")
    val got = Merge.incrementalAgg(base, changes, "k", "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq(("other", 1L, 7.0)))
  }

  test("linkageEm: m/u separate on a planted duplicate structure") {
    // one block, window 2 → 9 consecutive-rank pairs; ranks (1,2),
    // (3,4), (5,6), (7,8) are planted duplicates agreeing on BOTH
    // fields; (9,10) agrees on f2 only; the other 4 pairs disagree
    // on everything
    val rows = Seq(
      (1L, "aaa k01", "x1", "y1"), (2L, "aaa k02", "x1", "y1"),
      (3L, "aaa k03", "x2", "y2"), (4L, "aaa k04", "x2", "y2"),
      (5L, "aaa k05", "x3", "y3"), (6L, "aaa k06", "x3", "y3"),
      (7L, "aaa k07", "x4", "y4"), (8L, "aaa k08", "x4", "y4"),
      (9L, "aaa k09", "x5", "y5"), (10L, "aaa k10", "x6", "y5")
    ).toDF("id", "k", "f1", "f2")
    val out = graft.ext.Dedup.linkageEm(rows, "id", "k",
        Seq("f1", "f2"), window = 2, blockLen = 3, iters = 8)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val (m1, u1, lam, np) = out("f1")
    val (m2, u2, _, _) = out("f2")
    assert(np == 9L)
    // match class: both fields agree with high probability
    assert(m1 > 0.8 && m2 > 0.8, s"m did not rise: m1=$m1 m2=$m2")
    // non-match class: f1 never agrees outside the planted dups, f2
    // agrees once ((9,10)) → u2 must sit above u1
    assert(u1 < 0.05, s"u1=$u1")
    assert(u2 > u1 && u2 < 0.35, s"u2=$u2 u1=$u1")
    assert(lam > 0.2 && lam < 0.7, s"lambda=$lam")
  }

  test("linkageEm is partitioning-independent") {
    Tables.register(spark, TestSpark.sfDir)
    val part = spark.table("part")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Dedup.linkageEm(df, "p_partkey", "p_name",
        Seq("p_brand", "p_size"), window = 4, blockLen = 4, iters = 3)
        .collect().toSeq
    assert(run(part.coalesce(1)) == run(part.repartition(11)))
  }

  test("linkageScores: rare-value agreement outweighs common-value agreement") {
    // field g: value 'c' appears 8 times, 'r' twice -> agreeing on
    // 'r' must earn a strictly larger weight than agreeing on 'c'
    val df = (1L to 8L).map(i => (i, f"aaaa c$i%02d", "c")) ++
      Seq((9L, "aaaa r01", "r"), (10L, "aaaa r02", "r"))
    val out = Dedup.linkageScores(df.toDF("id", "name", "g"), "id",
        "name", Seq("g"), window = 10, blockLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    assert(out((9L, 10L)) > out((1L, 2L)),
      "both agree, but the rare value must score higher")
  }
}
