package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.exec.Share

/** BPE (byte-pair-encoding) merge learning over the corpus — the
  * tokenizer-training slot of the pipeline. A BPE vocabulary is
  * learned by repeatedly (1) counting adjacent symbol pairs across
  * the corpus, weighted by word frequency, and (2) merging every
  * occurrence of the most frequent pair (greedy left-to-right within
  * a word, the Sennrich et al. 2016 convention). The expensive part
  * at 100 TB — the corpus scan — happens ONCE: training state is the
  * (word, freq, symbols) relation, which is vocabulary-sized, so
  * every merge round costs a vocabulary-sized map + one
  * vocabulary-sized count shuffle, never a corpus rescan. That is
  * exactly how production BPE trainers work (collapse to word
  * frequencies first), expressed relationally.
  *
  * Determinism: pair counts are exact integer sums of long
  * frequencies; the chosen merge breaks ties on (pair_count desc,
  * sym_a asc, sym_b asc); re-segmentation is an order-fixed fold —
  * nothing float-typed anywhere, so results are bit-identical under
  * any partitioning and in any engine (the DuckDB twin replays the
  * same greedy rule relationally).
  *
  * Character splitting uses regex `.` (both Java and RE2 exclude
  * newline and match one BMP char) rather than `split(token, "")`,
  * whose trailing-empty behavior differs across engines.
  */
object Bpe {

  /** Single-char symbol array of a token. */
  def charSymbols(word: Column): Column =
    regexp_extract_all(word, lit("."), lit(0))

  /** Corpus word frequencies with initial (character) symbol arrays:
    * (word, freq, s). One token-keyed count shuffle over the corpus —
    * the only corpus-sized job in BPE training.
    */
  def wordSymbols(df: DataFrame, textCol: String = "text"): DataFrame =
    Dedup.spread(df, textCol)
      .select(explode_outer(TextStats.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", charSymbols(col("word")))

  /** Frequency-weighted adjacent-pair counts over a (word, freq, s)
    * relation: (sym_a, sym_b, pair_count). Every adjacent position
    * counts (overlaps included — "aaa" contributes (a,a) twice),
    * matching the classic get_stats. Map-side explode + one
    * pair-keyed count shuffle, both sized by the vocabulary.
    */
  def pairCounts(words: DataFrame): DataFrame = {
    // sequence(1, size-1) needs size >= 2: Spark's sequence DESCENDS
    // when start > stop, so 1-symbol words must be filtered, not
    // clamped (the greatest(...) trick used for n-grams would emit a
    // bogus [1, 0] here)
    val pairs = transform(sequence(lit(1), size(col("s")) - 1),
      i => struct(element_at(col("s"), i).as("a"),
        element_at(col("s"), (i + 1).cast("int")).as("b")))
    words.filter(size(col("s")) >= 2)
      .select(col("freq"), explode(pairs).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum(col("freq")).as("pair_count"))
  }

  /** Merge every greedy left-to-right occurrence of (a, b) in the
    * symbol arrays — one order-fixed `aggregate` fold per word, no
    * shuffle (the whole round's re-segmentation is map-only).
    * Within a run of identical symbols the leftmost pair wins and
    * scanning resumes after it ("aaa" + (a,a) → ["aa", "a"]), and a
    * symbol merged this round never re-merges this round — the
    * Sennrich convention.
    */
  def applyMerge(words: DataFrame, a: String, b: String): DataFrame = {
    val zero = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    val folded = aggregate(
      col("s"), zero,
      (acc, x) => {
        val accOut = acc.getField("out")
        val accPrev = acc.getField("prev")
        when(accPrev === lit(a) && x === lit(b),
          struct(concat(accOut, array(lit(a + b))).as("out"),
            lit(null).cast("string").as("prev")))
          .otherwise(struct(
            when(accPrev.isNull, accOut)
              .otherwise(concat(accOut, array(accPrev))).as("out"),
            x.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
    words.withColumn("s", folded)
  }

  /** Learn `rounds` BPE merges: per round, count pairs, take the
    * (count desc, pair asc) argmax — ONE driver-collected scalar row,
    * the same posture as Packing's shard offsets — merge it
    * everywhere, repeat on the [[Share.checkpoint]]d state. Returns
    * (round, sym_a, sym_b, merge_count) — merge_count is the pair's
    * frequency BEFORE the merge, the number the trainer ranked by.
    * Stops early if no pair remains.
    */
  def learnMerges(df: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    val (merges, _) = train(df, rounds, textCol)
    import spark.implicits._
    merges.toDF("round", "sym_a", "sym_b", "merge_count")
  }

  /** The shared training loop: learned merges plus the final (word,
    * freq, s) state. The final state IS the tokenization of every
    * distinct corpus word under the learned vocabulary — production
    * BPE encoders work the same way (segment the word table once,
    * then stream the corpus through the word→pieces map), which is
    * why encoding costs one vocab-sized loop + one corpus join, never
    * a per-document merge replay.
    */
  private def train(df: DataFrame, rounds: Int, textCol: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = Share.checkpoint(wordSymbols(df, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        words = Share.checkpoint(applyMerge(words, a, b))
        r += 1
      }
    }
    (merges.toSeq, words)
  }

  /** Tokenize the vocabulary with the merges learned in `rounds`
    * BPE rounds: one (word, pos, token) row per subword piece, pos
    * 1-based within the word. This exercises the learned merge table
    * as a TOKENIZER (every piece of every word), not just a trainer.
    */
  def segmentVocab(df: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame =
    train(df, rounds, textCol)._2
      .select(col("word"), posexplode(col("s")))
      .select(col("word"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("token"))

  /** Tokenizer-fertility report: per group (typically language), how
    * efficiently the learned BPE merges encode the corpus —
    * (group, n_words, n_pieces, n_chars, pieces_per_word,
    * chars_per_piece). Fertility (pieces per word) is THE
    * tokenizer-quality dial a multilingual pipeline reads: a language
    * the merge table underserves fragments into near-character pieces
    * (fertility → word length), inflating its effective sequence
    * length and its share of the training budget.
    *
    * Determinism: counts and char totals are exact longs; each ratio
    * is one double division rounded at 5. Scale shape: the corpus
    * token stream joins the BROADCAST vocabulary piece counts
    * map-side (the [[encode]] posture), then one group-keyed
    * map-side-combined aggregate — the corpus is scanned once and
    * never shuffled by word.
    */
  def fertility(df: DataFrame, rounds: Int, groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val pieceN = train(df, rounds, textCol)._2
      .select(col("word"), size(col("s")).cast("long").as("__np"))
    df.select(col(groupCol), explode(TextStats.tokens(col(textCol))).as("word"))
      .join(broadcast(pieceN), "word")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("__np")).as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words").cast("double"), 5))
      .withColumn("chars_per_piece",
        round(col("n_chars").cast("double") / col("n_pieces").cast("double"), 5))
      .orderBy(groupCol)
  }

  /** Encode a corpus with the learned merges: (id, pieces) where
    * pieces is the document's token stream with each word replaced by
    * its BPE segmentation. The vocab segmentation is broadcast (it is
    * vocabulary-sized) and the corpus is streamed through it map-side
    * — the corpus is scanned once and never shuffled.
    */
  def encode(df: DataFrame, rounds: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pieces = train(df, rounds, textCol)._2
      .select(col("word"), col("s").as("__pieces"))
    df.select(col(idCol), posexplode(TextStats.tokens(col(textCol))))
      .select(col(idCol), col("pos").as("__wpos"), col("col").as("word"))
      .join(broadcast(pieces), "word")
      .groupBy(idCol)
      .agg(flatten(array_sort(collect_list(
        struct(col("__wpos"), col("__pieces")))).getField("__pieces"))
        .as("pieces"))
  }
}
