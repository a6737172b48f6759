package graft.exec

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** How an operator stores an intermediate that several consumers read,
  * and when that storage is released. The only code that persists.
  *
  * == Lifetime contract ==
  *  - [[lazily]] registers a persisted plan in the
  *    session's CacheManager, which holds it STRONGLY: nothing frees it
  *    by reachability, and any later plan that canonicalizes the same
  *    (the same parquet path, say) reads its blocks — also after the
  *    files under that path were replaced. So every such share belongs
  *    to the innermost [[scope]] open on the thread that made it, and
  *    the scope unpersists it when its body returns, throws or is
  *    cancelled. Work handed to another thread joins the scope through
  *    [[carry]]. A share made outside any scope belongs to the caller,
  *    exactly like `Dataset.persist`; so does a plan that was already
  *    cached when the share was made (its first owner releases it).
  *  - [[checkpoint]] copies a relation into executor blocks through
  *    `localCheckpoint`. The copy is a snapshot, never matched against
  *    another plan, so no scope tracks it: its blocks go with its RDD,
  *    through the ContextCleaner, once the frame is unreachable.
  *  - [[memo]] keeps facts about a checkpointed leaf (its row count,
  *    say) for as long as the leaf's RDD is reachable, and no longer.
  *
  * The action boundary opens the scope: one per `Cli.run` command and
  * one per timed or verified run in the harness mains.
  */
object Share {

  private final class Scope(spark: SparkSession) {
    private val shares = ArrayBuffer[DataFrame]()
    def owns(df: DataFrame): Boolean =
      (df.sparkSession.sharedState.cacheManager eq
        spark.sharedState.cacheManager) &&
        df.storageLevel == StorageLevel.NONE
    def add(df: DataFrame): Unit = synchronized { shares += df }
    def release(): Unit = synchronized {
      shares.foreach(_.unpersist(blocking = false))
      shares.clear()
    }
  }

  private val current = new ThreadLocal[Scope]

  /** Run `body`, then unpersist every [[lazily]] share it
    * made in `spark`'s CacheManager, on this thread or on a thread it
    * handed work to through [[carry]]. Scopes nest: an inner scope
    * releases only its own shares.
    */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val outer = current.get
    val s = new Scope(spark)
    current.set(s)
    try body
    finally {
      current.set(outer)
      s.release()
    }
  }

  /** `f`, bound to the calling thread's scope, for running on another
    * thread: the shares it makes there belong to the caller's scope.
    * Call it on the scope's thread, before handing `f` over. */
  def carry[T](f: () => T): () => T = {
    val s = current.get
    () => {
      val prev = current.get
      current.set(s)
      try f() finally current.set(prev)
    }
  }

  /** Share a multi-consumer intermediate WITHOUT a materialization
    * barrier: lazy persist (MEMORY_AND_DISK). The optimizer plans one
    * InMemoryRelation that every consumer references — the duplicated
    * scan+compute subtrees collapse structurally — but no eager job
    * runs: the first consuming stage populates the cache and the rest
    * read it. Chosen over [[checkpoint]] where the duplicated subtree
    * is light enough that an eager barrier costs more than the
    * duplication it removes (measured on the text-stats family: eager
    * checkpoints REGRESSED q_js_drift 1.9→2.9 s while this form removes
    * the same re-tokenization). The first consumer should be a single
    * job: CONCURRENT first consumers (broadcast-exchange subtrees run
    * on their own thread pool) race on the empty cache — whoever
    * computes a block first caches it, nobody waits — and each
    * recomputes the shared plan.
    */
  def lazily(df: DataFrame): DataFrame = {
    val s = current.get
    val owned = s != null && s.owns(df)
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (owned) s.add(p)
    p
  }

  /** Materialize a loop-state or multi-pass DataFrame with FRESH leaf
    * statistics.
    *
    * `localCheckpoint()` alone truncates lineage and partitions, but
    * its `LogicalRDD` still carries the origin plan's estimated
    * statistics (`originStats`). Catalyst's size-only join estimate is
    * the PRODUCT of the children's `sizeInBytes`
    * (SizeInBytesOnlyStatsPlanVisitor.visitJoin), and each CC round
    * joins the previous round's labels with itself (pointer jump) and
    * with prop — so the BigInt size estimate is raised to the ~4th
    * power every round; by round 12 planning spent tens of seconds
    * in `BigInteger.multiply` (0.5 s rounds degrading to 40 s).
    * Rebuilding the Dataset from the checkpointed RDD through the
    * public `createDataFrame(rdd, schema)` makes the result a fresh
    * leaf with default stats, so planning time stays constant. AQE
    * re-plans each consumer's joins from the ACTUAL sizes at runtime.
    * A `rewrap = false` variant (bare localCheckpoint, no Row
    * round-trip) was measured for the rank recurrences and rejected —
    * see Graph.symEdges: the re-wrap is load-bearing beyond the stats
    * reset.
    *
    * A frame that IS already a checkpointed leaf, or a rename
    * projection of one, is returned as is: re-materializing the shared
    * co-purchase edge frame would copy the whole relation once per
    * consuming operator.
    */
  def checkpoint(df: DataFrame): DataFrame =
    if (leaf(df).isDefined) df else {
      val ck = df.localCheckpoint()
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }

  /** Materialize a MANY-ROW intermediate once for N downstream passes:
    * bare localCheckpoint (InternalRow-backed LogicalRDD — no
    * [[checkpoint]]-style Row re-wrap, whose per-read
    * InternalRow→Row→InternalRow copy costs ~1 s/pass on
    * millions-of-rows frames; this helper is for exactly those), plus
    * the TableProfiler respread: when AQE right-sized the exchange for
    * its shuffle bytes and left the checkpoint under-parallel for its
    * re-readers, spread it across the cores and RELEASE the first
    * checkpoint's blocks (the respread copy is the one consumers
    * read; keeping both pins 2× the executor storage for nothing —
    * ADVICE r15). Values are untouched: callers must only hand this
    * frames whose consumers are partitioning-independent. Measured
    * against a lazy persist plus one populating count() for the
    * agreement operators' token counts, which concurrent labelers
    * re-read: the persist was slower on every run (q_label_kappa
    * 10.4–12.0 s vs 7.1–8.8 s).
    */
  def checkpointWide(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    if (!graft.ext.Dedup.underParallel(ck)) ck
    else {
      val re = ck.repartition(ck.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint()
      ck.queryExecution.analyzed match {
        case l: LogicalRDD => l.rdd.unpersist(false)
        case _ => ()
      }
      re
    }
  }

  /** The checkpointed leaf under `df`, when `df` IS one or a
    * rename/reorder projection of one (the graph operators' id_a/id_b →
    * a/b aliasing). None for any other plan shape.
    */
  private[graft] def leaf(df: DataFrame): Option[LogicalRDD] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l)
      case Project(ps, l: LogicalRDD) if ps.forall {
          case _: Attribute => true
          case a: Alias => a.child.isInstanceOf[Attribute]
          case _ => false
        } => Some(l)
      case _ => None
    }
  }

  /** Names one fact [[memo]] keeps per leaf; compared by identity. */
  final class Key[T]

  // Facts per checkpointed RDD, held weakly on the RDD: a checkpoint is
  // immutable, so a fact never goes stale while its leaf lives, and the
  // entry goes with the leaf.
  private val memos =
    new java.util.WeakHashMap[RDD[_], ConcurrentHashMap[Key[_], Any]]()

  /** `compute`, memoized per checkpointed leaf under `key` when `df` is
    * one ([[leaf]]); computed afresh for any other frame. For facts the
    * driver derives from a shared leaf (row counts, degree histograms)
    * that several consuming queries would otherwise each pay a job for.
    */
  def memo[T](df: DataFrame, key: Key[T])(compute: => T): T = leaf(df) match {
    case None => compute
    case Some(l) =>
      val facts = memos.synchronized {
        memos.computeIfAbsent(l.rdd, _ => new ConcurrentHashMap[Key[_], Any]())
      }
      Option(facts.get(key)).getOrElse {
        val v = compute
        Option(facts.putIfAbsent(key, v)).getOrElse(v)
      }.asInstanceOf[T]
  }

  private val RowCount = new Key[Long]

  /** `df.count()`, memoized per checkpointed leaf — the broadcast-or-
    * shuffle regime probes in the graph operators re-decide on the
    * SAME shared edge frame once per consuming query otherwise. */
  def count(df: DataFrame): Long = memo(df, RowCount)(df.count())
}
