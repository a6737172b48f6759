package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale the driver's parquet corpus ~N× for the scaling sweep
  * (VERDICT r10 #2): same schemas, same distributions, but genuinely
  * NEW rows — not verbatim replicas. Each copy c ∈ [0, copies) offsets
  * every join key by c·KeyOffset, so referential integrity survives
  * (lineitem copy c joins orders copy c) while key spaces never
  * collide. Columns that feed similarity/blocking operators are
  * deterministically perturbed on copies > 0, because verbatim
  * replication would inflate candidate stages QUADRATICALLY (10
  * identical docs → 45 near-dup pairs each; 10 identical names →
  * a 10× sorted-neighborhood block) and the sweep would report a
  * generation artifact, not the engine's scaling:
  *  - documents.text: every 8th token (per-doc phase) is replaced by
  *    an md5-salted token — unigram stats ~87% preserved, but nearly
  *    every ≥5-gram shingle window is broken, so cross-copy Jaccard
  *    collapses below any dedup threshold; n_chars is recomputed.
  *  - embeddings.embedding: ± ~0.1 per-dim hash noise — cross-copy
  *    cosine drops to ~0.9, below the near-dup/SemDeDup thresholds.
  *  - entity names (c_name/s_name/p_name): md5-salted prefix —
  *    copies scatter uniformly in sort order, so blocking scales
  *    linearly like genuinely new entities would.
  * Dimension-like categoricals (segments, brands, flags, langs,
  * sources, event types) are kept verbatim — their VALUE distribution
  * is the thing to preserve. region/nation stay fixed: real corpora
  * grow facts, not geography.
  *
  * Usage: runMain graft.tools.GenSf <srcDir> <destDir> [copies=10]
  */
object GenSf {
  // Beyond any sf0.1 key (< ~10^7) and far under Long overflow at
  // copies ≤ 10^3; ra-score/decimal paths handle 10-digit ids.
  val KeyOffset: Long = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()
    generate(spark, src, dest, copies)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dest: String,
      copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[gensf] $t: ${spark.read.parquet(s"$dest/$t.parquet").count()} rows")
    }
    // One broadcast copy-index per output row; BNLJ keeps the scan
    // partition-parallel and shuffle-free.
    def fanout(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(
        spark.range(copies).select(col("id").as("__c"))))
    def off(c: String) = (col(c) + col("__c") * KeyOffset).as(c)
    // Identity-ish strings: salt-PREFIX on copies > 0 so the copies
    // scatter uniformly in sort order (see scaladoc).
    def saltName(c: String) = when(col("__c") === 0, col(c)).otherwise(
      concat(substring(md5(concat(col(c), lit("#"), col("__c"))), 1, 4),
        lit("-"), col(c))).as(c)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(fanout(read("customer")).select(
      off("c_custkey"), saltName("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), "customer")
    write(fanout(read("supplier")).select(
      off("s_suppkey"), saltName("s_name"), col("s_nationkey"),
      col("s_acctbal")), "supplier")
    write(fanout(read("part")).select(
      off("p_partkey"), saltName("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "part")
    write(fanout(read("orders")).select(
      off("o_orderkey"), off("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders")
    write(fanout(read("lineitem")).select(
      off("l_orderkey"), off("l_partkey"), off("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")
    write(fanout(read("events")).select(
      off("event_id"), col("ts"), off("user_id"), col("event_type"),
      col("value"), col("props")), "events")
    val docText = when(col("__c") === 0, col("text")).otherwise(
      array_join(expr(
        """transform(split(text, ' '), (t, p) ->
          |  IF((p + doc_id) % 8 = 0,
          |     concat('x', substring(md5(concat(t, '|', __c)), 1, 6)),
          |     t))""".stripMargin), " "))
    write(fanout(read("documents")).select(
      off("doc_id"), docText.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")
    val vecNoise = when(col("__c") === 0, col("embedding")).otherwise(expr(
      """transform(embedding, (x, p) -> float(x +
        |  (pmod(hash(vec_id, p, __c), 1000) / 5000.0 - 0.1)))""".stripMargin))
    write(fanout(read("embeddings")).select(
      off("vec_id"), vecNoise.as("embedding"), col("label")),
      "embeddings")
  }
}
