package graft.queries

/** DuckDB-dialect oracle twins for the extension operators
  * (graft.ext.* — SURVEY.md §7.5). Same portability rules as
  * [[Oracles]]; additionally every hash-bearing operator uses md5
  * (identical hex on any engine), double math mirrors Spark's
  * left-to-right fold exactly (DuckDB's list_sum is sequential —
  * verified bit-exact against a sequential fold on the test data),
  * and lambda indexing differences (Spark 0-based, DuckDB 1-based)
  * are confined to the authored SQL below.
  */
object OraclesExt {

  /** Shared CTEs: whitespace tokens and distinct 3-gram shingles
    * (twin of TextStats.tokens + Dedup.shingles(n=3)).
    */
  private val toksCte =
    "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents)"
  private val shCte =
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1), " +
      "i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks)"

  /** Exploded tokens (one row per occurrence) — shared by the
    * repetition, vocabulary and curation twins.
    */
  private val uniCte =
    "uni AS (SELECT doc_id, unnest(t) AS g FROM toks)"

  /** Word-bigram counts + per-doc repetition ratios (twin of
    * TextStats.repetitionStats minus the top-token metric) — ONE copy
    * of the bigram window convention, shared by [[textRepetition]]
    * and [[curateFull]]. Ends in `repx(doc_id, n_tokens,
    * n_distinct_tokens, distinct_token_ratio, top_bigram_frac)`,
    * one row per doc.
    */
  private val repetitionCtes =
    s"""base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
       |  len(list_distinct(t))::BIGINT AS n_distinct_tokens FROM toks),
       |bg AS (SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 1) + 1),
       |  i -> array_to_string(t[i:i+1], ' ')) AS b FROM toks),
       |bgu AS (SELECT doc_id, unnest(b) AS g FROM bg),
       |bgc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM bgu GROUP BY doc_id, g),
       |bga AS (SELECT doc_id, max(c) AS topc, sum(c)::BIGINT AS tot FROM bgc GROUP BY doc_id),
       |repx AS (SELECT base.doc_id, base.n_tokens, base.n_distinct_tokens,
       |  CASE WHEN base.n_tokens > 0
       |    THEN round(base.n_distinct_tokens::DOUBLE / base.n_tokens::DOUBLE, 5) ELSE 0.0 END
       |    AS distinct_token_ratio,
       |  CASE WHEN coalesce(bga.tot, 0) > 0
       |    THEN round(bga.topc::DOUBLE / bga.tot::DOUBLE, 5) ELSE 0.0 END
       |    AS top_bigram_frac
       |  FROM base LEFT JOIN bga USING (doc_id))""".stripMargin

  /** Top-V vocabulary + per-doc OOV report (twin of
    * TextStats.vocabCoverage, incl. its zero-token-doc row) — shared
    * by [[vocabCoverage]] and [[curateFull]]. Ends in
    * `oovx(doc_id, n_tokens, n_oov, oov_rate)`, one row per doc.
    */
  private def vocabCtes(v: Int): String =
    s"""vocab AS (SELECT g AS token, 1 AS inv FROM uni GROUP BY g
       |  ORDER BY count(*) DESC, g LIMIT $v),
       |oovagg AS (SELECT doc_id, count(*)::BIGINT AS nt,
       |  (count(*) - count(v.inv))::BIGINT AS no
       |  FROM uni LEFT JOIN vocab v ON uni.g = v.token GROUP BY doc_id),
       |oovx AS (SELECT d.doc_id, coalesce(nt, 0)::BIGINT AS n_tokens,
       |  coalesce(no, 0)::BIGINT AS n_oov,
       |  CASE WHEN coalesce(nt, 0) > 0 THEN round(no::DOUBLE / nt::DOUBLE, 5)
       |    ELSE 0.0 END AS oov_rate
       |  FROM documents d LEFT JOIN oovagg USING (doc_id))""".stripMargin

  /** The Gopher-style quality blend over (toks t, documents text) —
    * ONE copy of the expression, shared by [[curate]], [[curateFull]],
    * [[topQualityPerLang]], [[textStats]] and [[textDocStats]].
    *
    * Twin of TextStats.withDocStats's integer form: the blend is
    * exactly rational and lands on .5×10⁻⁵ rounding ties where double
    * `round` differs between engines, so the 5-decimal HALF_UP is
    * exact integer arithmetic — (2·10⁵·num + den) // (2·den) — not a
    * double round.
    */
  private val qualityScoreSql = {
    // HUGEINT (int128), twin of the Spark side's decimal(38,0): the
    // products overflow BIGINT on multi-MB documents — DuckDB would
    // raise, Spark's long would wrap — so both engines widen first
    val nt = "len(t)::HUGEINT"
    val nc = "length(text)::HUGEINT"
    val nstop = "len(list_filter(t, x -> x IN ('a', 'the')))::HUGEINT"
    val nalpha = "(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::HUGEINT"
    val maxNT = s"greatest($nt, 1)"
    val maxNC = s"greatest($nc, 1)"
    s"""(((5 * least($nt, 100) * $maxNT * $maxNC
       |    + least(3000 * $nstop * $maxNC, 300 * $nt * $maxNC)
       |    + 200 * $nalpha * $maxNT) * 200000
       |   + 1000 * $maxNT * $maxNC)
       |  // (2000 * $maxNT * $maxNC)) / 100000.0""".stripMargin
  }

  val dedupExact: String =
    """SELECT min(doc_id) AS keep_id, md5(text) AS content_md5, count(*)::BIGINT AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Twin of the normalization-first dedup (TextStats.normalizeText +
    * Dedup.exact): same lowercase / non-alnum-collapse / trim
    * canonicalization, same md5-keyed grouping.
    */
  val dedupNormalized: String =
    """SELECT min(doc_id) AS keep_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_md5,
      |  count(*)::BIGINT AS n_copies
      |FROM documents GROUP BY 2 ORDER BY keep_id""".stripMargin

  /** Twin of Dedup.ngramJaccardPairs with the shared stop-shingle
    * doc-frequency cap (Dedup.NgramStopShingleCap — single source for
    * both engines): the same inverted shingle index — n_common counts
    * only shingles kept by the cap; set sizes stay uncapped (exactly
    * as the Spark operator computes them).
    */
  val dedupNgramJaccard: String =
    s"""WITH $toksCte, $shCte,
       |shx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |freq AS (SELECT shingle FROM shx GROUP BY shingle HAVING count(*) <= ${graft.ext.Dedup.NgramStopShingleCap}),
       |inv AS (SELECT doc_id, shingle FROM shx JOIN freq USING (shingle)),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_common
       |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sizes AS (SELECT doc_id, len(s)::BIGINT AS n_sh FROM sh)
       |SELECT id_a, id_b, n_common, x.n_sh AS n_a, y.n_sh AS n_b,
       |       round(n_common::DOUBLE / (x.n_sh + y.n_sh - n_common)::DOUBLE, 5) AS jaccard
       |FROM common JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |WHERE round(n_common::DOUBLE / (x.n_sh + y.n_sh - n_common)::DOUBLE, 5) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash k=16 / bands=4 CTE chain ending in verified pairs `mh`
    * (id_a, id_b, jaccard ≥ 0.8) — twin of Dedup.minHashNearDupPairs,
    * shared by [[dedupMinHashLsh]] and [[dedupClusters]]. The
    * affine-family constants come from Dedup.minHashParams — single
    * source of truth for both engines.
    */
  private val minHashPairsCtes: String = {
    val minExprs = graft.ext.Dedup.minHashParams(16)
      .map { case (a, b) => s"min((h32 * $a + $b) & 4294967295)" }
      .mkString(", ")
    s"""$toksCte, $shCte,
       |shx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |hx AS (SELECT doc_id, cast('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h32 FROM shx),
       |sig AS (SELECT doc_id, [$minExprs] AS sg FROM hx GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest(list_transform(range(0, 4),
       |  b -> md5(b || '|' || array_to_string(sg[b*4+1:b*4+4], '')))) AS bk FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |j AS (SELECT id_a, id_b,
       |  round(len(list_intersect(x.s, y.s))::DOUBLE /
       |        len(list_distinct(list_concat(x.s, y.s)))::DOUBLE, 5) AS jaccard
       |  FROM cand JOIN sh x ON cand.id_a = x.doc_id JOIN sh y ON cand.id_b = y.doc_id),
       |mh AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8)""".stripMargin
  }

  val dedupMinHashLsh: String =
    s"""WITH $minHashPairsCtes
       |SELECT id_a, id_b, jaccard FROM mh ORDER BY id_a, id_b""".stripMargin

  /** LSH banding precision/recall audit — twin of Dedup.lshStageAudit:
    * the shared banding CTE chain's `cand` vs the capped exact-Jaccard
    * truth (the [[dedupNgramJaccard]] conventions), pair-joined; two
    * single divisions. cand/truth are MATERIALIZED (each has two
    * consumers — the DuckDB CTE-inlining blowup class).
    */
  val lshAudit: String =
    s"""WITH $minHashPairsCtes,
       |c2 AS MATERIALIZED (SELECT id_a, id_b FROM cand),
       |freq AS (SELECT shingle FROM shx GROUP BY shingle
       |  HAVING count(*) <= ${graft.ext.Dedup.NgramStopShingleCap}),
       |inv AS (SELECT doc_id, shingle FROM shx JOIN freq USING (shingle)),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_common
       |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sizes AS (SELECT doc_id, len(s)::BIGINT AS n_sh FROM sh),
       |truth AS MATERIALIZED (SELECT id_a, id_b FROM common
       |  JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |  WHERE round(n_common::DOUBLE / (x.n_sh + y.n_sh - n_common)::DOUBLE, 5) >= 0.8),
       |agg AS (SELECT
       |  (SELECT count(*)::BIGINT FROM truth) AS n_true,
       |  (SELECT count(*)::BIGINT FROM c2) AS n_candidates,
       |  (SELECT count(*)::BIGINT FROM c2 JOIN truth USING (id_a, id_b)) AS n_hits)
       |SELECT n_true, n_candidates, n_hits,
       |  CASE WHEN n_candidates > 0
       |    THEN round(n_hits::DOUBLE / n_candidates::DOUBLE, 5) END AS "precision",
       |  CASE WHEN n_true > 0
       |    THEN round(n_hits::DOUBLE / n_true::DOUBLE, 5) END AS recall
       |FROM agg""".stripMargin

  /** Damped PageRank over the symmetrized MinHash pair graph — twin
    * of Graph.pageRank(iters): the same exact scale-9 integer-unit
    * recurrence (init 10⁹//N, jump 0.15·10⁹//N, damping 85·Σ//100,
    * per-edge contribution ru//deg), unrolled one CTE per iteration.
    * DuckDB `//` and Spark `div` both floor positive integer
    * division, so every round is bit-identical.
    */
  def pageRank(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT d.node, d.deg,
         |  ((SELECT 150000000 // n FROM nc) + (85 * sum(r.ru // r.deg)) // 100)::BIGINT AS ru
         |  FROM sym s JOIN r${i - 1} r ON s.src = r.node JOIN deg d ON s.dst = d.node
         |  GROUP BY d.node, d.deg)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minHashPairsCtes,
       |sym AS (SELECT id_a AS src, id_b AS dst FROM mh
       |  UNION ALL SELECT id_b, id_a FROM mh),
       |deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM sym GROUP BY src),
       |nc AS (SELECT count(*)::BIGINT AS n FROM deg),
       |r0 AS (SELECT node, deg, (SELECT 1000000000 // n FROM nc)::BIGINT AS ru FROM deg),
       |$rounds
       |SELECT node, ru AS rank_u, round(ru / 1000000000.0, 9) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Initial BPE state — word frequencies with positional character
    * symbols: ps0(word, freq, pos, sym), pos 1-based dense. Chars via
    * regex `.` (same BMP/no-newline semantics in Java and RE2 — the
    * cross-engine-safe char split).
    *
    * ps0 and every per-round CTE below carry DuckDB's `AS
    * MATERIALIZED` hint: each round references its predecessor ~5
    * times, so without forced materialization DuckDB's CTE inlining
    * re-derives the whole chain ~5^rounds times (the round-6 judge
    * measured ~20 min for q_bpe_encode at sf0.01; materialized it is
    * <0.1 s, same 127 rows). The hint is DuckDB-only syntax — these
    * strings are never parsed by Spark.
    */
  private val bpePs0Ctes: String =
    s"""$toksCte, $uniCte,
       |wf AS (SELECT g AS word, count(*)::BIGINT AS freq FROM uni GROUP BY g),
       |sy AS (SELECT word, freq, regexp_extract_all(word, '.') AS s FROM wf),
       |ps0 AS MATERIALIZED (SELECT word, freq, pos, s[pos] AS sym FROM
       |  (SELECT word, freq, s, unnest(range(1, len(s) + 1)) AS pos FROM sy))""".stripMargin

  /** One BPE round over ps{r-1} → ps{r}: pair counts, the (count
    * desc, pair asc) argmax, greedy left-to-right merge replayed
    * RELATIONALLY — consecutive match positions only occur for
    * (a, a) runs, where greedy takes every other position from the
    * run start (gaps-and-islands parity); chosen heads rewrite to
    * a||b, their tails drop, positions renumber.
    */
  private def bpePcCte(r: Int): String = {
    val prev = s"ps${r - 1}"
    s"""pc$r AS MATERIALIZED (SELECT s1.sym AS a, s2.sym AS b, sum(s1.freq)::BIGINT AS n
       |  FROM $prev s1 JOIN $prev s2
       |    ON s1.word = s2.word AND s2.pos = s1.pos + 1
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def bpeRoundCtes(r: Int): String = {
    val prev = s"ps${r - 1}"
    s"""${bpePcCte(r)},
       |best$r AS MATERIALIZED (SELECT a, b, n FROM pc$r ORDER BY n DESC, a, b LIMIT 1),
       |mt$r AS MATERIALIZED (SELECT s1.word, s1.pos FROM $prev s1 JOIN $prev s2
       |    ON s1.word = s2.word AND s2.pos = s1.pos + 1
       |  WHERE s1.sym = (SELECT a FROM best$r)
       |    AND s2.sym = (SELECT b FROM best$r)),
       |ch$r AS MATERIALIZED (SELECT word, pos FROM (
       |    SELECT word, pos, row_number() OVER
       |      (PARTITION BY word, pos - rn ORDER BY pos) AS rn2
       |    FROM (SELECT word, pos, row_number() OVER
       |      (PARTITION BY word ORDER BY pos) AS rn FROM mt$r))
       |  WHERE rn2 % 2 = 1),
       |ps$r AS MATERIALIZED (SELECT p.word, p.freq,
       |    row_number() OVER (PARTITION BY p.word ORDER BY p.pos) AS pos,
       |    CASE WHEN c1.pos IS NOT NULL
       |      THEN (SELECT a FROM best$r) || (SELECT b FROM best$r)
       |      ELSE p.sym END AS sym
       |  FROM $prev p
       |  LEFT JOIN ch$r c1 ON p.word = c1.word AND p.pos = c1.pos
       |  LEFT JOIN ch$r c2 ON p.word = c2.word AND p.pos = c2.pos + 1
       |  WHERE c2.pos IS NULL)""".stripMargin
  }

  /** Top-k frequency-weighted adjacent character pairs — twin of
    * Bpe.pairCounts over the un-merged corpus.
    */
  def bpePairs(k: Int): String =
    s"""WITH $bpePs0Ctes,
       |${bpePcCte(1)}
       |SELECT a AS sym_a, b AS sym_b, n AS pair_count
       |FROM pc1 ORDER BY pair_count DESC, sym_a, sym_b LIMIT $k""".stripMargin

  /** The first `rounds` learned BPE merges — twin of
    * Bpe.learnMerges: each round's CTE chain replays the greedy
    * merge of the previous round's argmax before re-counting.
    */
  def bpeMerges(rounds: Int): String = {
    val roundCtes = (1 to rounds).map(bpeRoundCtes).mkString(",\n")
    val rows = (1 to rounds).map { r =>
      s"SELECT $r AS round, a AS sym_a, b AS sym_b, n AS merge_count FROM best$r"
    }.mkString("\nUNION ALL ")
    s"""WITH $bpePs0Ctes,
       |$roundCtes
       |SELECT * FROM (
       |$rows
       |) ORDER BY round""".stripMargin
  }

  /** Vocabulary segmentation after `rounds` learned merges — twin of
    * Bpe.segmentVocab: the final per-round positional state ps{r} IS
    * the tokenization of every distinct word, so the encode oracle is
    * the merge oracle's last CTE projected as (word, pos, token).
    */
  def bpeEncode(rounds: Int): String = {
    val roundCtes = (1 to rounds).map(bpeRoundCtes).mkString(",\n")
    s"""WITH $bpePs0Ctes,
       |$roundCtes
       |SELECT word, pos::BIGINT AS pos, sym AS token
       |FROM ps$rounds ORDER BY word, pos""".stripMargin
  }

  /** Tokenizer-fertility report — twin of Bpe.fertility: per-word
    * piece counts from the merge oracle's final segmentation, joined
    * onto the (lang, word) occurrence stream, exact totals, one
    * rounded double division per ratio.
    */
  def bpeFertility(rounds: Int): String = {
    val roundCtes = (1 to rounds).map(bpeRoundCtes).mkString(",\n")
    s"""WITH $bpePs0Ctes,
       |$roundCtes,
       |wc AS (SELECT word, count(*)::BIGINT AS np FROM ps$rounds GROUP BY word),
       |occ AS (SELECT lang, unnest(t) AS word FROM
       |  (SELECT d.lang, toks.t FROM documents d JOIN toks ON d.doc_id = toks.doc_id)),
       |agg AS (SELECT lang, count(*)::BIGINT AS n_words,
       |  sum(np)::BIGINT AS n_pieces, sum(len(word))::BIGINT AS n_chars
       |  FROM occ JOIN wc USING (word) GROUP BY lang)
       |SELECT lang, n_words, n_pieces, n_chars,
       |  round(n_pieces::DOUBLE / n_words::DOUBLE, 5) AS pieces_per_word,
       |  round(n_chars::DOUBLE / n_pieces::DOUBLE, 5) AS chars_per_piece
       |FROM agg ORDER BY lang""".stripMargin
  }

  /** Multinomial Naive Bayes self-train confusion matrix — twin of
    * Classify.nbConfusion: the same Laplace-smoothed dense
    * (token, class) grid with scale-9-quantized ln, the same exact
    * decimal Σ tf·llh + prior scores (tf enters as DECIMAL(10,0) in
    * both engines), the same (score desc, label asc) argmax.
    * Zero-token documents predict NULL (NULLS FIRST to match Spark's
    * asc-nulls-first sort).
    */
  /** CTE chain of the NB self-train scorer, ending in
    * `pred(doc_id, actual, predicted)` — shared by [[nbConfusion]]
    * and [[labelAgreement]] so the smoothing/argmax conventions have
    * exactly one SQL copy.
    */
  private val nbPredCtes: String =
    s"""tk AS (SELECT doc_id, lang,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |occ AS (SELECT doc_id, lang, unnest(t) AS token FROM tk),
       |cc AS (SELECT lang AS label, token, count(*)::BIGINT AS c FROM occ GROUP BY 1, 2),
       |ct AS (SELECT label, sum(c)::BIGINT AS nt FROM cc GROUP BY label),
       |vs AS (SELECT count(DISTINCT token)::BIGINT AS v FROM cc),
       |vocab AS (SELECT DISTINCT token FROM cc),
       |grid AS (SELECT vocab.token, ct.label,
       |  round(ln((coalesce(cc.c, 0) + 1)::DOUBLE /
       |    (ct.nt + (SELECT v FROM vs))::DOUBLE), 9)::DECIMAL(18,9) AS llh
       |  FROM vocab CROSS JOIN ct
       |  LEFT JOIN cc ON cc.token = vocab.token AND cc.label = ct.label),
       |cd AS (SELECT lang AS label, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
       |pri AS (SELECT label,
       |  round(ln(n_docs::DOUBLE / (SELECT sum(n_docs) FROM cd)::DOUBLE), 9)::DECIMAL(18,9) AS prior
       |  FROM cd),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM occ GROUP BY 1, 2),
       |sc AS (SELECT tf.doc_id, g.label, sum(tf.tf::DECIMAL(10,0) * g.llh) AS s
       |  FROM tf JOIN grid g ON tf.token = g.token GROUP BY 1, 2),
       |tot AS (SELECT sc.doc_id, sc.label, sc.s + pri.prior AS score
       |  FROM sc JOIN pri USING (label)),
       |best AS (SELECT doc_id, label AS predicted,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rk
       |  FROM tot),
       |pred AS MATERIALIZED (SELECT d.doc_id, d.lang AS actual, b.predicted
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id, predicted FROM best WHERE rk = 1) b USING (doc_id))""".stripMargin

  val nbConfusion: String =
    s"""WITH $nbPredCtes
       |SELECT actual, predicted, count(*)::BIGINT AS n_docs
       |FROM pred GROUP BY actual, predicted
       |ORDER BY actual, predicted NULLS FIRST""".stripMargin

  /** Cohen's kappa between the NB self-train labels and the profile-
    * token language-ID heuristic — twin of Classify.labelAgreement:
    * the same inner join over docs both labelers scored, the same
    * integer identity kappa = (n·agree − Σ r·c)/(n² − Σ r·c) with
    * DECIMAL(38,0) products, three single divisions rounded at 5.
    */
  val labelAgreement: String = {
    val values = graft.ext.TextStats.LangProfiles
      .map { case (l, t, w) => s"('$l', '$t', $w)" }.mkString(", ")
    s"""WITH $nbPredCtes,
       |lid_toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
       |lid_profile AS (SELECT * FROM (VALUES $values) p(cand_lang, token, weight)),
       |lid_scores AS (SELECT doc_id, cand_lang, sum(weight)::BIGINT AS score
       |  FROM lid_toks JOIN lid_profile USING (token) GROUP BY 1, 2),
       |lid_rank AS (SELECT doc_id, cand_lang, row_number() OVER
       |  (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn FROM lid_scores),
       |heur AS (SELECT doc_id, cand_lang AS heur_lang FROM lid_rank WHERE rn = 1),
       |cm AS MATERIALIZED (SELECT p.predicted AS nb_lang, h.heur_lang,
       |  count(*)::BIGINT AS c
       |  FROM pred p JOIN heur h USING (doc_id)
       |  WHERE p.predicted IS NOT NULL GROUP BY 1, 2),
       |tot2 AS (SELECT sum(c)::BIGINT AS n,
       |  sum(CASE WHEN nb_lang = heur_lang THEN c ELSE 0 END)::BIGINT AS n_agree
       |  FROM cm),
       |rt AS (SELECT nb_lang AS l, sum(c)::BIGINT AS r FROM cm GROUP BY 1),
       |ctt AS (SELECT heur_lang AS l, sum(c)::BIGINT AS cl FROM cm GROUP BY 1),
       |pe AS (SELECT coalesce(sum(r::DECIMAL(38,0) * cl::DECIMAL(38,0)),
       |  0)::DECIMAL(38,0) AS pe_num FROM rt JOIN ctt USING (l))
       |SELECT n AS n_docs, n_agree,
       |  round(n_agree::DOUBLE / n::DOUBLE, 5) AS po,
       |  round(pe_num::DOUBLE / (n::DECIMAL(38,0) * n)::DOUBLE, 5) AS pe,
       |  CASE WHEN (n::DECIMAL(38,0) * n - pe_num) > 0
       |    THEN round((n::DECIMAL(38,0) * n_agree - pe_num)::DOUBLE
       |      / (n::DECIMAL(38,0) * n - pe_num)::DOUBLE, 5)
       |    ELSE 0.0 END AS kappa
       |FROM tot2 CROSS JOIN pe""".stripMargin
  }

  /** Fleiss' kappa over three labelers — twin of
    * Classify.fleissKappa: the [[labelAgreement]] NB + heuristic
    * chains plus the chunk-majority langid ([[langIdChunks]] CTEs),
    * joined per doc; S from the 9/5/3 agreement-pattern CASE, ΣT²
    * from the stacked label relation, each metric one DECIMAL(38,0)
    * division.
    */
  def fleissKappa(chunkTokens: Int): String = {
    val values = graft.ext.TextStats.LangProfiles
      .map { case (l, t, w) => s"('$l', '$t', $w)" }.mkString(", ")
    s"""WITH $nbPredCtes,
       |lid_toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
       |lid_profile AS (SELECT * FROM (VALUES $values) p(cand_lang, token, weight)),
       |lid_scores AS (SELECT doc_id, cand_lang, sum(weight)::BIGINT AS score
       |  FROM lid_toks JOIN lid_profile USING (token) GROUP BY 1, 2),
       |lid_rank AS (SELECT doc_id, cand_lang, row_number() OVER
       |  (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn FROM lid_scores),
       |heur AS (SELECT doc_id, cand_lang AS heur_lang FROM lid_rank WHERE rn = 1),
       |ck_toks AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |ck_n AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM ck_toks),
       |ck_c AS (SELECT doc_id, t, n, unnest(range(0,
       |  CASE WHEN n > 0 THEN (n - 1) // $chunkTokens + 1 ELSE 1 END)) AS ci FROM ck_n),
       |ck_t AS (SELECT doc_id, ci,
       |  unnest(t[(ci * $chunkTokens + 1):(ci * $chunkTokens + $chunkTokens)]) AS token
       |  FROM ck_c),
       |ck_scores AS (SELECT doc_id, ci, cand_lang, sum(weight)::BIGINT AS score
       |  FROM ck_t JOIN lid_profile USING (token) GROUP BY 1, 2, 3),
       |ck_rank AS (SELECT doc_id, ci, cand_lang, row_number() OVER
       |  (PARTITION BY doc_id, ci ORDER BY score DESC, cand_lang) AS rn FROM ck_scores),
       |ck_pred AS (SELECT doc_id, ci, cand_lang FROM ck_rank WHERE rn = 1),
       |ck_perlang AS (SELECT doc_id, cand_lang, count(*)::BIGINT AS nc
       |  FROM ck_pred GROUP BY 1, 2),
       |ck_maj AS (SELECT doc_id, cand_lang AS maj_lang FROM (SELECT doc_id,
       |  cand_lang, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY nc DESC, cand_lang) AS rn FROM ck_perlang) WHERE rn = 1),
       |tri AS MATERIALIZED (SELECT p.doc_id, p.predicted AS l1,
       |  h.heur_lang AS l2, m.maj_lang AS l3
       |  FROM pred p JOIN heur h USING (doc_id) JOIN ck_maj m USING (doc_id)
       |  WHERE p.predicted IS NOT NULL),
       |s AS (SELECT count(*)::BIGINT AS n_items,
       |  coalesce(sum(CASE WHEN l1 = l2 AND l2 = l3 THEN 9
       |    WHEN l1 = l2 OR l2 = l3 OR l1 = l3 THEN 5
       |    ELSE 3 END), 0)::BIGINT AS ssum FROM tri),
       |stacked AS (SELECT l1 AS l FROM tri UNION ALL
       |  SELECT l2 FROM tri UNION ALL SELECT l3 FROM tri),
       |t2 AS (SELECT coalesce(sum(cnt::DECIMAL(38,0) * cnt),
       |  0)::DECIMAL(38,0) AS tsq
       |  FROM (SELECT l, count(*)::BIGINT AS cnt FROM stacked GROUP BY l))
       |SELECT n_items,
       |  CASE WHEN n_items > 0 THEN round(
       |    (ssum::DECIMAL(38,0) - n_items::DECIMAL(38,0) * 3)::DOUBLE
       |    / (n_items::DECIMAL(38,0) * 6)::DOUBLE, 5) ELSE 0.0 END AS p_bar,
       |  CASE WHEN n_items > 0 THEN round(tsq::DOUBLE
       |    / (n_items::DECIMAL(38,0) * n_items * 9)::DOUBLE, 5)
       |    ELSE 0.0 END AS p_e,
       |  CASE WHEN (n_items::DECIMAL(38,0) * n_items * 9 - tsq) * 2 > 0
       |    THEN round((n_items::DECIMAL(38,0) * 3 *
       |      (ssum::DECIMAL(38,0) - n_items::DECIMAL(38,0) * 3)
       |      - tsq * 2)::DOUBLE
       |      / ((n_items::DECIMAL(38,0) * n_items * 9 - tsq) * 2)::DOUBLE, 5)
       |    ELSE 0.0 END AS kappa
       |FROM s CROSS JOIN t2""".stripMargin
  }

  /** Zipf-law fit per source — twin of TextStats.zipfFit: the same
    * scale-9 ln quantization, exact decimal moments, and the SAME
    * double expression tree for slope / intercept / r² (the
    * olsRegression convention — identical ops on identical operands
    * give identical doubles).
    */
  def zipfFit(topV: Int): String =
    s"""WITH $toksCte,
       |$uniCte,
       |cnt AS (SELECT d.source, uni.g AS token, count(*)::BIGINT AS c
       |  FROM uni JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |rk AS (SELECT source, token, c, row_number() OVER
       |  (PARTITION BY source ORDER BY c DESC, token) AS rk FROM cnt),
       |f AS (SELECT source,
       |  round(ln(rk::DOUBLE), 9)::DECIMAL(18,9) AS x,
       |  round(ln(c::DOUBLE), 9)::DECIMAL(18,9) AS y
       |  FROM rk WHERE rk <= $topV),
       |m AS (SELECT source, count(*)::BIGINT AS n,
       |  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
       |  sum(x*x) AS sxx, sum(y*y) AS syy FROM f GROUP BY 1),
       |e AS (SELECT source, n,
       |  n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS covxy,
       |  n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS varx,
       |  n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vary,
       |  sx::DOUBLE AS sxd, sy::DOUBLE AS syd FROM m)
       |SELECT source, n AS n_tokens_fit,
       |  CASE WHEN n > 1 AND varx <> 0 AND vary <> 0
       |    THEN round(covxy / varx, 5) END AS slope,
       |  CASE WHEN n > 1 AND varx <> 0 AND vary <> 0
       |    THEN round((syd - (covxy / varx) * sxd) / n::DOUBLE, 5)
       |    END AS intercept,
       |  CASE WHEN n > 1 AND varx <> 0 AND vary <> 0
       |    THEN round(covxy * covxy / (varx * vary), 5) END AS r2
       |FROM e ORDER BY source""".stripMargin

  /** Per-source length-bias audit — twin of Stats.spearmanByGroup
    * over (n_chars, quality_score): the same doubled average ranks
    * from the DISTINCT-value domain (r2 = 2·(cum − c) + c + 1, an
    * integer), the same single-division
    * rho = (2n(n²−1) − 3·Σ(r2x−r2y)²) / (2n(n²−1)) in exact
    * HUGEINT/DECIMAL(38,0) arithmetic.
    */
  val lengthBias: String =
    s"""WITH $toksCte,
       |q AS MATERIALIZED (SELECT d.doc_id, d.source, d.n_chars,
       |  $qualityScoreSql AS y
       |  FROM documents d JOIN toks USING (doc_id)),
       |xc AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c FROM q GROUP BY 1, 2),
       |xr AS (SELECT source, v,
       |  2 * (sum(c) OVER (PARTITION BY source ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS r2
       |  FROM xc),
       |yc AS (SELECT source, y AS v, count(*)::BIGINT AS c FROM q GROUP BY 1, 2),
       |yr AS (SELECT source, v,
       |  2 * (sum(c) OVER (PARTITION BY source ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS r2
       |  FROM yc),
       |j AS (SELECT q.source, xr.r2 AS rx2, yr.r2 AS ry2
       |  FROM q JOIN xr ON q.source = xr.source AND q.n_chars = xr.v
       |  JOIN yr ON q.source = yr.source AND q.y = yr.v),
       |a AS (SELECT source, count(*)::BIGINT AS n_docs,
       |  sum((rx2 - ry2)::HUGEINT * (rx2 - ry2)::HUGEINT) AS s4 FROM j GROUP BY 1)
       |SELECT source, n_docs,
       |  CASE WHEN n_docs > 1 THEN
       |    round((2 * n_docs::HUGEINT * (n_docs::HUGEINT * n_docs - 1) - 3 * s4)::DOUBLE
       |      / (2 * n_docs::HUGEINT * (n_docs::HUGEINT * n_docs - 1))::DOUBLE, 5)
       |  ELSE NULL END AS spearman_rho
       |FROM a ORDER BY source""".stripMargin

  /** Positional proximity search — twin of Search.proximityPairs:
    * the same positional postings (filtered to the two terms), one
    * doc-keyed pair join, integer gap counts.
    */
  def proximityPairs(termA: String, termB: String, window: Int): String =
    s"""WITH $toksCte,
       |pt AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos
       |  FROM toks),
       |f AS MATERIALIZED (SELECT doc_id, pos - 1 AS pos, t[pos] AS tok
       |  FROM pt WHERE t[pos] IN ('$termA', '$termB')),
       |pa AS (SELECT doc_id, pos AS p FROM f WHERE tok = '$termA'),
       |pb AS (SELECT doc_id, pos AS p FROM f WHERE tok = '$termB'),
       |j AS (SELECT pa.doc_id, pa.p AS a, pb.p AS b,
       |  abs(pa.p - pb.p) AS gap FROM pa JOIN pb USING (doc_id))
       |SELECT doc_id, count(DISTINCT a)::BIGINT AS n_a,
       |  count(DISTINCT b)::BIGINT AS n_b,
       |  sum(CASE WHEN gap <= $window THEN 1 ELSE 0 END)::BIGINT
       |    AS n_pairs,
       |  min(gap)::BIGINT AS min_gap
       |FROM j GROUP BY doc_id HAVING n_pairs > 0
       |ORDER BY doc_id""".stripMargin

  /** SPRT monitor — twin of Stats.sprtMonitor: identical driver-side
    * scale-9 ln constants interpolated as literals (no libm
    * agreement needed), DECIMAL(12,0)×DECIMAL(18,9) daily LLR on the
    * calendar-day grid, Wald thresholds, first-crossing flag.
    */
  def sprtMonitor(successType: String, p0: Double, p1: Double,
      alpha: Double, beta: Double): String = {
    def q9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).toPlainString
    val l1 = q9(math.log(p1 / p0))
    val l0 = q9(math.log((1 - p1) / (1 - p0)))
    val thA = q9(math.log((1 - beta) / alpha))
    val thB = q9(math.log(beta / (1 - alpha)))
    s"""WITH daily AS (SELECT
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT
       |    AS day_num,
       |  count(*)::BIGINT AS n,
       |  sum(CASE WHEN event_type = '$successType' THEN 1 ELSE 0 END)
       |    ::BIGINT AS s
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
       |c AS (SELECT day_num,
       |  (sum(n) OVER w)::BIGINT AS n_trials_cum,
       |  (sum(s) OVER w)::BIGINT AS n_success_cum
       |  FROM daily WINDOW w AS (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |l AS (SELECT *,
       |  (n_success_cum::DECIMAL(12,0) * $l1::DECIMAL(18,9)
       |   + (n_trials_cum - n_success_cum)::DECIMAL(12,0)
       |     * $l0::DECIMAL(18,9)) AS llr FROM c),
       |d AS (SELECT *,
       |  CASE WHEN llr >= $thA::DECIMAL(18,9) THEN 'accept_h1'
       |       WHEN llr <= $thB::DECIMAL(18,9) THEN 'accept_h0'
       |       ELSE 'continue' END AS decision FROM l)
       |SELECT day_num, n_trials_cum, n_success_cum, llr::DOUBLE AS llr,
       |  decision,
       |  (decision <> 'continue' AND day_num = min(CASE WHEN
       |    decision <> 'continue' THEN day_num END) OVER ())
       |    AS is_first_decision
       |FROM d ORDER BY day_num""".stripMargin
  }

  /** Kruskal–Wallis H — twin of Stats.kruskalWallis over
    * (source, n_chars): pooled doubled midranks from the value grid,
    * exact integer deviations, scale-9 HALF_UP D²/n terms summed
    * exactly, tie-corrected H as one division of exact products.
    */
  val kruskalWallis: String =
    """WITH gv AS (SELECT source AS g, n_chars AS v,
      |  count(*)::BIGINT AS cg FROM documents GROUP BY 1, 2),
      |vc AS (SELECT v, sum(cg)::BIGINT AS c FROM gv GROUP BY 1),
      |rk AS (SELECT v,
      |  2 * (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW))::HUGEINT - c + 1 AS r2,
      |  c::HUGEINT * c * c - c AS t3 FROM vc),
      |tie AS (SELECT sum(t3) AS t FROM rk),
      |pg AS (SELECT g, sum(cg)::BIGINT AS ng,
      |  sum(cg::HUGEINT * r2) AS rs FROM gv JOIN rk USING (v)
      |  GROUP BY 1),
      |nt AS (SELECT sum(ng)::BIGINT AS n,
      |  count(*)::BIGINT AS n_groups FROM pg),
      |t9 AS (SELECT pg.g,
      |  ((rs - ng::HUGEINT * (n + 1)) * (rs - ng::HUGEINT * (n + 1))
      |    * 2000000000 + ng) // (2 * ng) AS t9
      |  FROM pg CROSS JOIN nt),
      |s9 AS (SELECT sum(t9) AS s FROM t9)
      |SELECT n_groups, n AS n_total,
      |  CASE WHEN n > 1 AND (n::HUGEINT * n * n - n - tie.t) > 0 THEN
      |    round((3::HUGEINT * s9.s * (n::HUGEINT * n * n - n))::DOUBLE
      |      / (1000000000::HUGEINT * n * (n + 1)
      |         * (n::HUGEINT * n * n - n - tie.t))::DOUBLE, 5)
      |  END AS kw_h
      |FROM nt CROSS JOIN tie CROSS JOIN s9""".stripMargin

  /** Per-type daily burstiness — twin of Events.fanoFactor: zero
    * days enter only the span length, so
    * F = (n·Σx² − S²)/((n−1)·S) is a ratio of exact HUGEINT
    * operands, one rounded division.
    */
  val fanoFactor: String =
    """WITH daily AS (SELECT event_type,
      |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))
      |    ::BIGINT AS day_num, count(*)::BIGINT AS n
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |a AS (SELECT event_type,
      |  (max(day_num) - min(day_num) + 1)::BIGINT AS n_days,
      |  sum(n)::BIGINT AS n_events,
      |  sum(n::HUGEINT * n) AS ss FROM daily GROUP BY 1)
      |SELECT event_type, n_days, n_events,
      |  CASE WHEN n_days > 1 AND n_events > 0 THEN
      |    round((n_days::HUGEINT * ss - n_events::HUGEINT * n_events)::DOUBLE
      |      / ((n_days::HUGEINT - 1) * n_events)::DOUBLE, 5)
      |  END AS fano
      |FROM a ORDER BY event_type""".stripMargin

  /** Source diversity per language — twin of
    * TextStats.sourceDiversity: scale-9 quantized ln shares, exact
    * decimal Σ n·llh, one division + exp + round.
    */
  val sourceDiversity: String =
    """WITH c AS (SELECT lang, source, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT lang, sum(c)::BIGINT AS n,
      |  count(*)::BIGINT AS n_sources FROM c GROUP BY 1),
      |x AS (SELECT c.lang, t.n, t.n_sources, c.c,
      |  round(ln(c.c::DOUBLE / t.n::DOUBLE), 9)::DECIMAL(18,9) AS llh
      |  FROM c JOIN t USING (lang)),
      |a AS (SELECT lang, any_value(n) AS n,
      |  any_value(n_sources) AS n_sources,
      |  sum(c::DECIMAL(10,0) * llh) AS s FROM x GROUP BY 1)
      |SELECT lang, n::BIGINT AS n_docs, n_sources,
      |  round((-s)::DOUBLE / n::DOUBLE, 5) AS entropy_nats,
      |  round(exp((-s)::DOUBLE / n::DOUBLE), 5) AS effective_sources
      |FROM a ORDER BY lang""".stripMargin

  /** Pooled quantile normalization — twin of
    * Curation.quantileNormalize over (source, quality_score): the
    * same distinct-value grids, doubled-midrank integer threshold
    * (2·cum−c)·N vs 2·n_g·cumPool in HUGEINT, source-before-pool
    * merge order, forward-frame min pooled value.
    */
  val quantileNormalize: String =
    s"""WITH $toksCte,
       |q AS MATERIALIZED (SELECT d.doc_id, d.source,
       |  $qualityScoreSql AS v
       |  FROM documents d JOIN toks USING (doc_id)),
       |gg AS MATERIALIZED (SELECT source, v, count(*)::BIGINT AS c
       |  FROM q GROUP BY 1, 2),
       |gc AS (SELECT source, v, c, sum(c) OVER (PARTITION BY source
       |  ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |  AS cum FROM gg),
       |ng AS (SELECT source, sum(c)::BIGINT AS ngr FROM gg GROUP BY 1),
       |gp AS (SELECT v, count(*)::BIGINT AS c FROM q GROUP BY 1),
       |pc AS (SELECT v, sum(c) OVER (ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump
       |  FROM gp),
       |na AS (SELECT count(*)::BIGINT AS n FROM q),
       |srcr AS (SELECT g.source, g.v,
       |  (2::HUGEINT * g.cum - g.c) * na.n AS kx, 0 AS tag,
       |  NULL::DOUBLE AS w FROM gc g CROSS JOIN na),
       |poolr AS (SELECT ng.source, NULL::DOUBLE AS v,
       |  2::HUGEINT * ng.ngr * p.cump AS kx, 1 AS tag, p.v AS w
       |  FROM pc p CROSS JOIN ng),
       |u AS (SELECT *, min(w) OVER (PARTITION BY source
       |  ORDER BY kx, tag ROWS BETWEEN CURRENT ROW AND UNBOUNDED
       |  FOLLOWING) AS normalized
       |  FROM (SELECT * FROM srcr UNION ALL SELECT * FROM poolr)),
       |m AS (SELECT source, v, normalized FROM u WHERE tag = 0)
       |SELECT q.doc_id, q.source, q.v AS quality_score, m.normalized
       |FROM q JOIN m ON q.source = m.source AND q.v = m.v
       |ORDER BY q.doc_id""".stripMargin

  /** RAKE keywords — twin of TextStats.rakeKeywords: the same
    * stopword-run phrase segmentation (pid window computed BEFORE the
    * stopword filter), length cap, scale-9 integer word scores
    * HALF_UP(deg·10⁹/freq) via (2a+b) // 2b, exact integer phrase
    * sums, tie-safe double rendering.
    */
  def rakeKeywords(k: Int, maxPhraseLen: Int): String = {
    val stops = graft.ext.TextStats.Stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH $toksCte,
       |pt AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos
       |  FROM toks),
       |mk AS (SELECT doc_id, pos, t[pos] AS tok,
       |  (t[pos] IN ($stops)) AS stop FROM pt),
       |mk2 AS (SELECT doc_id, pos, tok, stop,
       |  sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS pid FROM mk),
       |mem AS MATERIALIZED (SELECT doc_id, pid, pos, tok FROM mk2
       |  WHERE NOT stop),
       |ph AS MATERIALIZED (SELECT doc_id, pid, count(*)::BIGINT AS plen,
       |  string_agg(tok, ' ' ORDER BY pos) AS phrase
       |  FROM mem GROUP BY 1, 2 HAVING count(*) <= $maxPhraseLen),
       |occ AS MATERIALIZED (SELECT m.doc_id, m.pid, p.phrase, p.plen,
       |  m.tok FROM mem m JOIN ph p USING (doc_id, pid)),
       |ws AS (SELECT tok, count(*)::HUGEINT AS freq,
       |  sum(plen)::HUGEINT AS deg FROM occ GROUP BY tok),
       |wsu AS (SELECT tok,
       |  (deg * 2000000000 + freq) // (2 * freq) AS wsu FROM ws),
       |ps AS (SELECT o.doc_id, o.pid, o.phrase, o.plen, sum(w.wsu) AS psu
       |  FROM occ o JOIN wsu w USING (tok) GROUP BY 1, 2, 3, 4),
       |ag AS (SELECT phrase, min(plen)::BIGINT AS n_words,
       |  count(*)::BIGINT AS n_occurrences, min(psu) AS su FROM ps
       |  GROUP BY 1)
       |SELECT phrase, n_words, n_occurrences, su::BIGINT AS score_u,
       |  su::DOUBLE / 1000000000.0 AS rake_score
       |FROM ag ORDER BY su DESC, phrase LIMIT $k""".stripMargin
  }

  /** Water-filling token allocation — twin of
    * Sampling.waterFillAllocation over per-source token totals: the
    * same ascending (available, stratum) order, prefix saturation
    * predicate a·m + S_below ≤ B in HUGEINT, integer level split
    * q = R // m with the first R % m unsaturated strata taking one
    * extra, integer-HALF_UP budget share.
    */
  def waterFill(budget: Long): String =
    s"""WITH $toksCte,
       |t AS (SELECT d.source, sum(len(toks.t))::BIGINT AS a
       |  FROM documents d JOIN toks USING (doc_id) GROUP BY 1),
       |r AS (SELECT source, a,
       |  row_number() OVER (ORDER BY a, source) AS i,
       |  coalesce(sum(a) OVER (ORDER BY a, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |    AS sb,
       |  count(*) OVER ()::BIGINT AS n FROM t),
       |s AS (SELECT *,
       |  (a::HUGEINT * (n - i + 1) + sb) <= $budget AS sat FROM r),
       |f AS (SELECT *,
       |  sum(CASE WHEN sat THEN 1 ELSE 0 END) OVER ()::BIGINT AS nsat,
       |  coalesce(sum(CASE WHEN sat THEN a END) OVER (), 0)::BIGINT AS ssat
       |  FROM s),
       |g AS (SELECT source, a AS available_tokens, sat AS saturated,
       |  (CASE WHEN sat THEN a
       |    ELSE ($budget - ssat) // (n - nsat)
       |      + (CASE WHEN i - nsat <= ($budget - ssat) % (n - nsat)
       |         THEN 1 ELSE 0 END) END)::BIGINT AS alloc_tokens
       |  FROM f)
       |SELECT source, available_tokens, alloc_tokens, saturated,
       |  ((alloc_tokens::HUGEINT * 200000 + $budget)
       |    // ${2 * budget})::DOUBLE / 100000.0 AS budget_share
       |FROM g ORDER BY source""".stripMargin

  /** Mann–Whitney U rank-sum test — twin of Stats.mannWhitney over
    * n_chars between two sources: the same doubled-U integer
    * (2U_A = Σ cA·(2·cumB(<v) + cB) over the distinct-value grid),
    * the same tie-corrected σ² = nA·nB·(n³−n−T)/(12·n·(n−1)) as ONE
    * exact-over-exact division before one sqrt, z and rank-biserial
    * each a single double division rounded at 5.
    */
  def mannWhitney(groupA: String, groupB: String): String =
    s"""WITH vc AS (SELECT n_chars AS v,
       |  sum(CASE WHEN source = '$groupA' THEN 1 ELSE 0 END)::BIGINT AS ca,
       |  sum(CASE WHEN source = '$groupB' THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM documents WHERE source IN ('$groupA', '$groupB') GROUP BY 1),
       |cum AS (SELECT v, ca, cb,
       |  (sum(cb) OVER (ORDER BY v
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cb) AS cbb
       |  FROM vc),
       |a AS (SELECT
       |  sum(ca::HUGEINT * (2 * cbb::HUGEINT + cb)) AS u2a,
       |  sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
       |  sum((ca + cb)::HUGEINT * (ca + cb) * (ca + cb) - (ca + cb)) AS tie
       |  FROM cum),
       |e AS (SELECT *,
       |  n_a::HUGEINT * n_b * ((n_a + n_b)::HUGEINT * (n_a + n_b) * (n_a + n_b)
       |    - (n_a + n_b) - tie) AS var_num,
       |  (n_a + n_b)::HUGEINT * (n_a + n_b - 1) * 12 AS var_den
       |  FROM a)
       |SELECT '$groupA' AS group_a, '$groupB' AS group_b, n_a, n_b,
       |  u2a::DOUBLE / 2.0 AS u_a,
       |  CASE WHEN n_a > 0 AND n_b > 0 AND var_num > 0
       |    THEN round((u2a - n_a::HUGEINT * n_b)::DOUBLE
       |      / (sqrt(var_num::DOUBLE / var_den::DOUBLE) * 2.0), 5)
       |  END AS z,
       |  CASE WHEN n_a > 0 AND n_b > 0
       |    THEN round((u2a - n_a::HUGEINT * n_b)::DOUBLE
       |      / (n_a::HUGEINT * n_b)::DOUBLE, 5)
       |  END AS rank_biserial
       |FROM e""".stripMargin

  /** Per-doc n-gram novelty — twin of TextStats.ngramNovelty: the
    * shared 3-gram shingle convention, posting count = doc frequency
    * (shingles distinct per doc), novelty = df==1 fraction in ONE
    * division rounded at 5.
    */
  val ngramNovelty: String =
    s"""WITH $toksCte,
       |$shCte,
       |ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
       |dfreq AS (SELECT g, count(*)::BIGINT AS df FROM ex GROUP BY g),
       |per AS (SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
       |  sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
       |  FROM ex e JOIN dfreq d ON e.g = d.g GROUP BY e.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  round(n_novel::DOUBLE / n_shingles::DOUBLE, 5) AS novelty
       |FROM per ORDER BY doc_id""".stripMargin

  /** Edit-distance-verified near-dups — twin of
    * Dedup.editDistanceNearDups: the same banded candidate CTE,
    * re-scored with levenshtein over the shared canonicalization
    * (integer edit-ratio cutoff, so no float compare).
    */
  def dedupFuzzy(num: Int, den: Int): String =
    s"""WITH $minHashPairsCtes,
       |norm AS (SELECT doc_id,
       |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt FROM documents),
       |fz AS (SELECT id_a, id_b,
       |  cast(levenshtein(na.nt, nb.nt) AS INT) AS dist,
       |  cast(greatest(length(na.nt), length(nb.nt)) AS INT) AS max_len
       |  FROM cand JOIN norm na ON cand.id_a = na.doc_id
       |  JOIN norm nb ON cand.id_b = nb.doc_id)
       |SELECT id_a, id_b, dist, max_len FROM fz
       |WHERE dist * $den <= max_len * $num
       |ORDER BY id_a, id_b""".stripMargin

  /** MERGE INTO — twin of the q_merge_upsert pipeline: identical
    * deterministic change-set construction (deletes %17, updates %10
    * spared by deletes, inserts as key+10⁸), anti-join + union.
    */
  val mergeUpsert: String =
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
      |del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 17 = 0),
      |upd AS (SELECT o_orderkey, o_totalprice * 1.1::DOUBLE AS o_totalprice FROM base
      |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 0),
      |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice FROM base
      |  WHERE o_orderkey % 1000 = 0),
      |changed_keys AS (SELECT o_orderkey FROM del
      |  UNION ALL SELECT o_orderkey FROM upd
      |  UNION ALL SELECT o_orderkey FROM ins),
      |survivors AS (SELECT b.o_orderkey, b.o_totalprice FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM changed_keys c WHERE c.o_orderkey = b.o_orderkey)),
      |merged AS (SELECT * FROM survivors
      |  UNION ALL SELECT o_orderkey, o_totalprice FROM upd
      |  UNION ALL SELECT o_orderkey, o_totalprice FROM ins)
      |SELECT o_orderkey, round(o_totalprice, 5) AS total
      |FROM merged ORDER BY o_orderkey""".stripMargin

  /** Magic-byte sniffing — INDEPENDENT ground truth for
    * q_multimodal_sniff: the Spark side constructs each payload with
    * the signature selected by doc_id and then actually sniffs the
    * bytes; this oracle derives the expected kind straight from the
    * same doc_id arithmetic, never touching payload bytes. Kind order
    * must match Multimodal.MagicSignatures.
    */
  val multimodalSniff: String = {
    val kinds = graft.ext.Multimodal.MagicSignatures.map(_._1)
    val cases = kinds.zipWithIndex
      .map { case (k, i) => s"WHEN $i THEN '$k'" }.mkString(" ")
    s"""SELECT CASE doc_id % ${kinds.size} $cases END AS sniffed_kind,
       |  count(*)::BIGINT AS n_assets
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Perceptual (dHash) near-dup pairs — twin of
    * Multimodal.phashNearDupPairs over the synthetic asset payloads
    * (UTF-8 text, pure ASCII in the fixtures, so byte samples mirror
    * as character slices and byte order as the default binary
    * collation): the same floor((j·(len−1))/64) sample grid, '0'/'1'
    * bitstring, 4×16 band join and position-wise Hamming verify.
    */
  val phashNearDup: String =
    s"""WITH h AS MATERIALIZED (SELECT doc_id AS id,
       |  array_to_string(list_transform(range(0, 64), i -> CASE WHEN
       |    substr(text, floor(((i + 1) * (length(text) - 1))::DOUBLE / 64)::INT + 1, 1)
       |    > substr(text, floor((i * (length(text) - 1))::DOUBLE / 64)::INT + 1, 1)
       |    THEN '1' ELSE '0' END), '') AS ph
       |  FROM documents WHERE length(text) > 64),
       |b AS (SELECT id, ph, unnest(range(0, 4)) AS pos FROM h),
       |bk AS (SELECT id, ph, pos, substr(ph, (pos * 16)::INT + 1, 16) AS bk FROM b),
       |cand AS MATERIALIZED (SELECT DISTINCT l.id AS id_a, l.ph AS ph_a,
       |  r.id AS id_b, r.ph AS ph_b
       |  FROM bk l JOIN bk r ON l.pos = r.pos AND l.bk = r.bk AND l.id < r.id),
       |v AS (SELECT id_a, id_b,
       |  len(list_filter(range(1, 65), i ->
       |    substr(ph_a, i::INT, 1) <> substr(ph_b, i::INT, 1)))::BIGINT AS hamming
       |  FROM cand)
       |SELECT id_a, id_b, hamming FROM v WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Row-level snapshot diff — twin of Merge.snapshotDiff over the
    * deterministically edited orders snapshot. Change detection here
    * is direct `IS DISTINCT FROM` on the compare columns (the Spark
    * side digest-compares internally; statuses agree because both are
    * exact row-equality tests — no float formatting crosses engines).
    */
  def snapshotDiff(removedMod: Long, changedMod: Long, addedMod: Long,
      addedOffset: Long): String =
    s"""WITH n AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CASE WHEN o_orderkey % $changedMod = 0 THEN o_totalprice + 1
       |         ELSE o_totalprice END AS o_totalprice,
       |    o_orderpriority
       |  FROM orders WHERE o_orderkey % $removedMod <> 0
       |  UNION ALL
       |  SELECT o_orderkey + $addedOffset, o_custkey, o_orderstatus,
       |    o_totalprice, o_orderpriority
       |  FROM orders WHERE o_orderkey % $addedMod = 0)
       |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
       |       WHEN n.o_orderkey IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status
       |FROM orders o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
       |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       |   OR (o.o_custkey IS DISTINCT FROM n.o_custkey)
       |   OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
       |   OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
       |   OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
       |ORDER BY o_orderkey""".stripMargin

  /** Cross-corpus near-dups — twin of Dedup.crossCorpusNearDups over
    * the deterministic train/test split: per-doc signatures (and so
    * band keys and verified Jaccard) are identical whether a doc is
    * signed inside its own corpus or the union, so the cross pairs
    * are exactly the full-corpus pairs with ONE endpoint in the test
    * split — reordered train-first.
    */
  def crossDedup(testFraction: Double): String = {
    // membership via the shared helper — the SAME deterministic split
    // as sampleSplit/decontam; an inline respelling could drift
    def isTest(c: String) =
      s"(${hashUniformSqlOn("split", c)} < $testFraction)"
    s"""WITH $minHashPairsCtes
       |SELECT CASE WHEN ${isTest("id_a")} THEN id_b ELSE id_a END AS id_a,
       |       CASE WHEN ${isTest("id_a")} THEN id_a ELSE id_b END AS id_b,
       |       jaccard
       |FROM mh
       |WHERE ${isTest("id_a")} <> ${isTest("id_b")}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Near-dup clustering + survivorship — twin of
    * Dedup.nearDupClusters: min-label connected components over the
    * MinHash pair graph as a recursive transitive-closure CTE
    * (exact min-reachable-id per node), then per-cluster size and
    * min-id survivor flag.
    */
  val dedupClusters: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM mh
       |  UNION ALL SELECT id_b, id_a FROM mh),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
       |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY cluster_id)
       |SELECT cc.id AS doc_id, cc.cluster_id, cs.cluster_size,
       |       (cc.id = cc.cluster_id) AS is_survivor
       |FROM cc JOIN cs USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** 64-bit SimHash, 4×16-bit-block LSH, Hamming ≤ 3 — twin of
    * Dedup.simHashNearDupPairs. The token hash is the same biased
    * two-half assembly as Dedup.tokenHash64 ((hi−2³¹)·2³²+lo — no
    * signed-64 overflow at any step); bit 63's pack weight is the
    * min-BIGINT literal because DuckDB rejects `1::BIGINT << 63`,
    * and it is added LAST so every partial sum stays in range.
    * `(x >> j) & mask` extracts bits identically under arithmetic or
    * logical shift — verified against DuckDB directly.
    */
  val dedupSimHash: String = {
    val bitSums = (0 until 64)
      .map(j => s"sum(((hv >> $j) & 1) * 2 - 1) AS b$j").mkString(", ")
    val packed = (0 until 64).map { j =>
      val weight = if (j == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $j)"
      s"CASE WHEN b$j > 0 THEN $weight ELSE 0::BIGINT END"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
       |h AS (SELECT doc_id,
       |  (cast('0x' || substr(md5(token), 1, 8) AS BIGINT) - 2147483648) * 4294967296
       |    + cast('0x' || substr(md5(token), 9, 8) AS BIGINT) AS hv FROM toks),
       |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, ($packed) AS simhash FROM bits),
       |blocks AS (SELECT doc_id, simhash, unnest(list_transform(range(0, 4),
       |  b -> b || ':' || ((simhash >> (b * 16)) & 65535))) AS block FROM sim),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  cast(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM blocks a JOIN blocks b ON a.block = b.block AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Normalized-vector CTEs shared by the similarity twins — the
    * DuckDB mirror of Similarity.normalized (float→double cast, then
    * one division by the L2 norm per element).
    */
  private val normCte =
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
      "n AS (SELECT vec_id, list_transform(e, x -> x / " +
      "sqrt(list_sum(list_transform(e, y -> y * y)))) AS nv FROM v)"

  /** One sequential-fold dot product — twin of the staged
    * round(dot(nqv, ncv), 5) scoring on pre-normalized vectors.
    */
  private def dotSql(a: String, b: String): String =
    s"round(list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2])), 5)"

  /** Random-projection dim reduction — twin of
    * Similarity.randomProjection: identical md5-derived plane matrix,
    * identical sequential-fold dots, the same interpolated 1/√outDims
    * double (Scala Double.toString round-trips into DuckDB).
    */
  def randomProjection(outDims: Int, dims: Int): String = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val comps = (0 until outDims).map { p =>
      s"""round(list_sum(list_transform(list_zip(e, (SELECT w FROM planes WHERE p = $p)), z -> z[1] * z[2])) * $scale, 5) AS p$p"""
    }.mkString(",\n|  ")
    s"""WITH planes AS (SELECT p, list_transform(range(0, $dims),
       |  d -> cast('0x' || substr(md5(p || ',' || d), 1, 8) AS BIGINT)::DOUBLE / 2147483648.0 - 1.0) AS w
       |  FROM range(0, $outDims) t(p)),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
       |SELECT vec_id,
       |  $comps
       |FROM v ORDER BY vec_id""".stripMargin
  }

  /** Cosine near-dup pairs ≥ 0.4 via banded hyperplane LSH (8 bands ×
    * 2 planes, 64 dims) — twin of Similarity.thresholdPairs. Band
    * keys derive from md5-seeded hyperplanes, so both engines build
    * identical buckets; candidates sharing a band are verified with
    * the exact normalized dot.
    */
  val embeddingNearDup: String =
    s"""WITH $normCte,
       |planes AS (SELECT p, list_transform(range(0, 64),
       |  d -> cast('0x' || substr(md5(p || ',' || d), 1, 8) AS BIGINT)::DOUBLE / 2147483648.0 - 1.0) AS w
       |  FROM range(0, 16) t(p)),
       |bits AS (SELECT vec_id, p // 2 AS band,
       |  CASE WHEN list_sum(list_transform(list_zip(nv, w), z -> z[1] * z[2])) >= 0
       |    THEN (1::BIGINT << (p % 2)) ELSE 0::BIGINT END AS bit
       |  FROM n CROSS JOIN planes),
       |keys AS (SELECT vec_id, band || ':' || sum(bit)::BIGINT AS bk
       |  FROM bits GROUP BY vec_id, band),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.vec_id < b.vec_id),
       |p2 AS (SELECT id_a, id_b, ${dotSql("x.nv", "y.nv")} AS score
       |  FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |SELECT id_a, id_b, score FROM p2 WHERE score >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** Cross-lingual bitext candidates — twin of
    * Similarity.crossLingualPairs: the [[semDedupPairs]] IVF-cell
    * pair chain (bitext mining runs at LOW thresholds, where banding
    * degenerates — see Similarity.crossLingualPairs), language labels
    * attached by doc-id joins, same-lang pairs dropped.
    */
  def crossLingualPairs(threshold: Double, nlistSql: String,
      nprobe: Int): String =
    s"""WITH $normCte,
       |${ivfCandCtes(nlistSql, nprobe)},
       |p2 AS (SELECT id_a, id_b, ${dotSql("x.nv", "y.nv")} AS score
       |  FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |SELECT id_a, id_b, da.lang AS lang_a, db.lang AS lang_b, score
       |FROM p2
       |JOIN documents da ON p2.id_a = da.doc_id
       |JOIN documents db ON p2.id_b = db.doc_id
       |WHERE score >= $threshold AND da.lang <> db.lang
       |ORDER BY id_a, id_b""".stripMargin

  /** Per-document duplicated-span stats — twin of
    * Dedup.duplicateSpanStats(n, minDocs): positional n-grams WITH
    * duplicates (occurrences, not the distinct shingle sets), cross-
    * doc frequency on the (gram, doc)-distinct relation, per-doc
    * occurrence roll-ups.
    */
  def dupSpans(n: Int, minDocs: Long): String =
    s"""WITH $toksCte,
       |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 1) + 1),
       |  i -> array_to_string(t[i:i+${n - 1}], ' '))) AS gram FROM toks),
       |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
       |  GROUP BY gram HAVING count(*) >= $minDocs),
       |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM g GROUP BY doc_id),
       |dupdoc AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM g JOIN dup USING (gram) GROUP BY doc_id)
       |SELECT p.doc_id, p.n_ngrams, coalesce(d.n_dup, 0)::BIGINT AS n_dup_ngrams,
       |  round(coalesce(d.n_dup, 0)::DOUBLE / p.n_ngrams::DOUBLE, 5) AS dup_fraction
       |FROM perdoc p LEFT JOIN dupdoc d USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Substring-span removal — twin of Dedup.stripDuplicateSpans:
    * 1-based full n-gram windows, cross-doc-hot grams (≥ minDocs
    * documents), positions under any hot window dropped, survivors
    * re-joined in order. Short docs pass whole; fully-boilerplate
    * docs come back empty.
    */
  def stripSpans(n: Int, minDocs: Long): String =
    s"""WITH $toksCte,
       |p1 AS (SELECT doc_id, t,
       |  unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS pos FROM toks),
       |g AS (SELECT doc_id, pos, array_to_string(t[pos:pos+${n - 1}], ' ') AS gram FROM p1),
       |hot AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
       |  GROUP BY gram HAVING count(*) >= $minDocs),
       |cov0 AS (SELECT doc_id, pos, unnest(range(0, $n)) AS off
       |  FROM (SELECT DISTINCT doc_id, pos FROM g JOIN hot USING (gram))),
       |cov AS (SELECT DISTINCT doc_id, pos + off AS cpos FROM cov0),
       |tk AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM toks),
       |ptok AS (SELECT doc_id, pos, t[pos] AS token FROM tk),
       |kept AS (SELECT p.doc_id, p.pos, p.token FROM ptok p
       |  WHERE NOT EXISTS (SELECT 1 FROM cov c
       |    WHERE c.doc_id = p.doc_id AND c.cpos = p.pos)),
       |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |  string_agg(token, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, len(d.t)::BIGINT AS n_tokens,
       |  (len(d.t) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
       |  coalesce(r.clean_text, '') AS clean_text
       |FROM toks d LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Cohort retention matrix — twin of Events.cohortRetention. */
  def cohortRetention(maxOffsetDays: Long): String =
    s"""WITH d AS (SELECT DISTINCT user_id,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num FROM events),
       |c AS (SELECT user_id, min(day_num) AS cohort_day FROM d GROUP BY user_id),
       |s AS (SELECT cohort_day, count(*)::BIGINT AS cohort_size FROM c GROUP BY cohort_day),
       |a AS (SELECT cohort_day, day_num - cohort_day AS day_offset, count(*)::BIGINT AS n_active
       |  FROM d JOIN c USING (user_id)
       |  WHERE day_num - cohort_day <= $maxOffsetDays GROUP BY 1, 2)
       |SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_size,
       |  round(a.n_active::DOUBLE / s.cohort_size::DOUBLE, 5) AS retention
       |FROM a JOIN s USING (cohort_day) ORDER BY cohort_day, day_offset""".stripMargin

  /** RFM segmentation — twin of Events.rfmScores: per-user recency
    * (whole-µs vs corpus max) / frequency / decimal-summed monetary,
    * quintile thresholds from the shared exact-quantile machinery
    * over each metric's GLOBAL distribution (constant group), then
    * strict-inequality scores 1–5.
    */
  val eventsRfm: String = {
    val ps = Seq("q20" -> 0.2, "q40" -> 0.4, "q60" -> 0.6, "q80" -> 0.8)
    val picks = quantilePicksSql(ps)
    val qs = quantileProjSql(ps)
    def thr(metric: String): String =
      s"""vc_$metric AS (SELECT 1 AS g, $metric::DOUBLE AS v, count(*)::BIGINT AS cnt
         |  FROM m GROUP BY 2),
         |tot_$metric AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc_$metric GROUP BY g),
         |cum_$metric AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc_$metric),
         |j_$metric AS (SELECT cum_$metric.g, v, cnt, cum, n
         |  FROM cum_$metric JOIN tot_$metric USING (g)),
         |a_$metric AS (SELECT g, n, $picks FROM j_$metric GROUP BY g, n),
         |t_$metric AS (SELECT $qs FROM a_$metric)""".stripMargin
    def scoreHigher(c: String, t: String): String =
      s"(1 + ${ps.map { case (name, _) =>
        s"CASE WHEN m.$c > $t.$name THEN 1 ELSE 0 END" }.mkString(" + ")})::INT"
    def scoreLower(c: String, t: String): String =
      s"(1 + ${ps.map { case (name, _) =>
        s"CASE WHEN m.$c < $t.$name THEN 1 ELSE 0 END" }.mkString(" + ")})::INT"
    s"""WITH pu AS (SELECT user_id,
       |  max(epoch_us(cast(ts AS TIMESTAMP))) AS last_us,
       |  count(*)::BIGINT AS n_events,
       |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS total_value
       |  FROM events GROUP BY user_id),
       |ref AS (SELECT max(epoch_us(cast(ts AS TIMESTAMP))) AS r FROM events),
       |m AS (SELECT user_id, (ref.r - last_us)::BIGINT AS recency_us,
       |  n_events, total_value FROM pu, ref),
       |${thr("recency_us")},
       |${thr("n_events")},
       |${thr("total_value")}
       |SELECT m.user_id, m.recency_us, m.n_events, m.total_value,
       |  ${scoreLower("recency_us", "tr")} AS r_score,
       |  ${scoreHigher("n_events", "tf")} AS f_score,
       |  ${scoreHigher("total_value", "tm")} AS m_score
       |FROM m, t_recency_us tr, t_n_events tf, t_total_value tm
       |ORDER BY m.user_id""".stripMargin
  }

  /** Cumulative distinct-user growth — twin of Events.userGrowth:
    * per first-activity day, new users and the running total.
    */
  val userGrowth: String =
    s"""WITH fs AS (SELECT user_id,
       |  min(date_diff('day', DATE '1970-01-01', cast(ts AS DATE)))::BIGINT AS day_num
       |  FROM events GROUP BY user_id),
       |nw AS (SELECT day_num, count(*)::BIGINT AS n_new_users FROM fs GROUP BY day_num)
       |SELECT day_num, n_new_users,
       |  sum(n_new_users) OVER (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
       |FROM nw ORDER BY day_num""".stripMargin

  /** First-touch attribution — twin of Events.firstTouchAttribution:
    * each purchase joined to its user's earliest click at or before
    * the purchase instant, whole-microsecond arithmetic throughout.
    */
  val firstTouch: String =
    s"""WITH conv AS (SELECT event_id, user_id,
       |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us, value
       |  FROM events WHERE event_type = 'purchase'),
       |ft AS (SELECT user_id, min(epoch_us(cast(ts AS TIMESTAMP))) AS first_touch_us
       |  FROM events WHERE event_type = 'click' GROUP BY user_id)
       |SELECT conv.event_id, conv.user_id, conv.ts_us, conv.value,
       |  CASE WHEN ft.first_touch_us <= conv.ts_us THEN ft.first_touch_us END
       |    AS first_touch_us,
       |  CASE WHEN ft.first_touch_us <= conv.ts_us
       |    THEN conv.ts_us - ft.first_touch_us END AS us_since_first_touch
       |FROM conv LEFT JOIN ft USING (user_id)
       |ORDER BY event_id""".stripMargin

  /** SemDeDup-style cell-pruned cosine pairs — twin of
    * Similarity.cellPairs: vectors meet iff they share one of their
    * `nprobe` nearest of `nlist` md5-selected IVF centroids
    * (identical index to [[knnIvf]]), then candidates are verified
    * with the exact normalized dot.
    */
  /** The corpus-adaptive nlist rule as SQL (twin of
    * Common.adaptiveNlist): nlist ∝ √n balances the n·nlist
    * assignment term against the nprobe·n²/nlist candidate term —
    * both O(n^1.5), the standard IVF compromise. Double sqrt/ceil on
    * an exact integer count is engine-identical.
    */
  def adaptiveNlistSql(nlistMin: Int): String =
    s"greatest($nlistMin, (SELECT ceil(sqrt(count(*) / 2.0))::BIGINT FROM embeddings))"

  /** CTE chain `cents → ascore → ranked_a → cells → cand` over the
    * `n` relation of [[normCte]]: IVF-cell candidate pairs, twin of
    * Similarity.cellPairs. `nlistSql` is any SQL expression — the
    * adaptive rule above, or a literal.
    */
  private def ivfCandCtes(nlistSql: String, nprobe: Int): String =
    s"""cents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlistSql),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id, centroid_id FROM ranked_a WHERE crank <= $nprobe),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)""".stripMargin

  def semDedupPairs(threshold: Double, nlistSql: String, nprobe: Int): String =
    s"""WITH $normCte,
       |${ivfCandCtes(nlistSql, nprobe)},
       |p2 AS (SELECT id_a, id_b, ${dotSql("x.nv", "y.nv")} AS score
       |  FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |SELECT id_a, id_b, score FROM p2 WHERE score >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** Twin of Similarity.sq8ScreenAudit: the exact within-cell
    * ≥-threshold pair count (same CTEs as [[semDedupPairs]]), plus
    * `screen_lossless` pinned against literal TRUE — the engine sets
    * it false iff ANY exact-threshold pair was dropped by the SQ8
    * pre-screen, which its quantization bound forbids; the oracle
    * row makes that invariant a hash-checked fact each round.
    */
  def sq8ScreenAudit(threshold: Double, nlistSql: String, nprobe: Int): String =
    s"""WITH $normCte,
       |${ivfCandCtes(nlistSql, nprobe)},
       |p2 AS (SELECT id_a, id_b, ${dotSql("x.nv", "y.nv")} AS score
       |  FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |SELECT count(*)::BIGINT AS n_true, TRUE AS screen_lossless
       |FROM p2 WHERE score >= $threshold""".stripMargin

  /** CTE chain ending in `cc(id, cluster_id)` — the IVF-cell pair
    * graph over embeddings (LOW-threshold regime, twin of
    * Similarity.cellPairs candidates) closed transitively by the same
    * recursive min-reachable-id CTE as [[dedupClusters]]; shared by
    * [[embeddingClusters]] and [[curateSemantic]].
    */
  private def embeddingClusterCtes(nlistSql: String, nprobe: Int) =
    s"""$normCte,
       |${ivfCandCtes(nlistSql, nprobe)},
       |p2 AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, ${dotSql("x.nv", "y.nv")} AS score
       |  FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |  WHERE score >= 0.4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM p2
       |  UNION ALL SELECT id_b, id_a FROM p2),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS label FROM embeddings
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  def embeddingClusters(nlistSql: String, nprobe: Int): String =
    s"""WITH RECURSIVE ${embeddingClusterCtes(nlistSql, nprobe)},
       |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY cluster_id)
       |SELECT cc.id AS vec_id, cc.cluster_id, cs.cluster_size,
       |       (cc.id = cc.cluster_id) AS is_survivor
       |FROM cc JOIN cs USING (cluster_id) ORDER BY vec_id""".stripMargin

  /** Cross-modal curation — twin of Curation.curateSemantic: the
    * EMBEDDING-space near-dup survivorship ([[embeddingClusterCtes]])
    * gates first, then the text gates, same priority CASE and quality
    * blend as [[curate]].
    */
  def curateSemantic(nlistSql: String, nprobe: Int): String = {
    val minTokens = graft.ext.Curation.DefaultMinTokens
    val minQuality = graft.ext.Curation.DefaultMinQuality
    s"""WITH RECURSIVE ${embeddingClusterCtes(nlistSql, nprobe)},
       |$toksCte,
       |qq AS (SELECT d.doc_id, len(t)::BIGINT AS n_tokens,
       |  $qualityScoreSql AS quality_score
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
       |r AS (SELECT qq.doc_id, n_tokens, quality_score,
       |  CASE WHEN cc.id <> cc.cluster_id THEN 'semantic_duplicate'
       |       WHEN n_tokens < $minTokens THEN 'too_short'
       |       WHEN quality_score < $minQuality THEN 'low_quality' END AS reject_reason
       |  FROM qq JOIN cc ON qq.doc_id = cc.id)
       |SELECT doc_id, n_tokens, quality_score,
       |  (reject_reason IS NULL) AS keep, reject_reason
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Brute-force cosine top-10 for query vectors vec_id < 5 — twin of
    * Similarity.topK (pre-normalized, one dot per pair).
    */
  val knnBruteForce: String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id, nv FROM n WHERE vec_id < 5),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM n c CROSS JOIN q WHERE q.vec_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Pairwise source n-gram overlap — twin of
    * CorpusOverlap.sourceOverlap: per-source distinct shingle sets
    * (shared [[shCte]] convention), exact intersection counts from a
    * shingle-keyed self-meet, one rounded Jaccard division.
    */
  val sourceOverlap: String =
    s"""WITH $toksCte,
       |$shCte,
       |sg AS (SELECT DISTINCT dim, g FROM (
       |  SELECT d.source AS dim, unnest(sh.s) AS g
       |  FROM sh JOIN documents d USING (doc_id))),
       |sizes AS (SELECT dim, count(*)::BIGINT AS n_grams FROM sg GROUP BY dim),
       |inter AS (SELECT a.dim AS dim_a, b.dim AS dim_b, count(*)::BIGINT AS n_common
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.dim < b.dim
       |  GROUP BY 1, 2)
       |SELECT dim_a, dim_b, sa.n_grams AS n_a, sb.n_grams AS n_b, n_common,
       |  round(n_common::DOUBLE / (sa.n_grams + sb.n_grams - n_common)::DOUBLE, 5)
       |    AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.dim_a = sa.dim
       |JOIN sizes sb ON inter.dim_b = sb.dim
       |ORDER BY dim_a, dim_b""".stripMargin

  /** Filtered vector search — twin of q_knn_filtered: the brute-force
    * chain with the corpus side pre-filtered by the document
    * predicate (queries stay unconstrained).
    */
  def knnFiltered(lang: String): String =
    s"""WITH $normCte,
       |allowed AS (SELECT doc_id FROM documents WHERE lang = '$lang'),
       |c AS (SELECT n.vec_id, n.nv FROM n JOIN allowed ON n.vec_id = allowed.doc_id),
       |q AS (SELECT vec_id, nv FROM n WHERE vec_id < 5),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM c CROSS JOIN q WHERE q.vec_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Random-hyperplane LSH top-10 (4 planes, 64 dims) — twin of
    * Similarity.lshTopK. Plane weights derive from md5("p,d"), so
    * both engines build the identical hyperplanes; buckets and scores
    * both computed on the normalized vectors.
    */
  val knnLsh: String =
    s"""WITH $normCte,
       |planes AS (SELECT p, list_transform(range(0, 64),
       |  d -> cast('0x' || substr(md5(p || ',' || d), 1, 8) AS BIGINT)::DOUBLE / 2147483648.0 - 1.0) AS w
       |  FROM range(0, 4) t(p)),
       |bucketed AS (SELECT vec_id, nv,
       |  sum(CASE WHEN list_sum(list_transform(list_zip(nv, w), z -> z[1] * z[2])) >= 0
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT AS bucket
       |  FROM n CROSS JOIN planes GROUP BY vec_id, nv),
       |q AS (SELECT vec_id, nv, bucket FROM bucketed WHERE vec_id < 5),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM bucketed c JOIN q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared PQ CTE chain — twin of Similarity.pqCentroids/pqEncode:
    * codebook = the ksub rows with the smallest md5(id) (codes 0..
    * ksub−1 in md5 order), per-subspace slices of the RAW double
    * vectors, squared-L2 assignment from staged self-dots
    * (xx − 2·xc + cc, one identically-shaped IEEE expression,
    * rounded at 9, code tie-break). Ends in `pqa` (vec_id, sub,
    * code, d, rk2 — rk2=1 rows are the code assignment) plus `ccs`
    * (codebook with self-dots) and `sx` (sub-vectors with
    * self-dots).
    */
  private def pqCtes(m: Int, ksub: Int, subDim: Int,
      vSrc: String = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")
      : String =
    s"""pv AS ($vSrc),
       |rk AS (SELECT vec_id, e, row_number() OVER
       |  (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code FROM pv),
       |samp AS (SELECT * FROM rk WHERE code < $ksub),
       |cents AS (SELECT s.sub, samp.code,
       |  samp.e[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS cv
       |  FROM samp CROSS JOIN range(0, $m) s(sub)),
       |ccs AS (SELECT sub, code, cv,
       |  list_sum(list_transform(cv, x -> x * x)) AS cc FROM cents),
       |sv AS (SELECT vec_id, s.sub,
       |  e[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS xv
       |  FROM pv CROSS JOIN range(0, $m) s(sub)),
       |sx AS (SELECT vec_id, sub, xv,
       |  list_sum(list_transform(xv, x -> x * x)) AS xx FROM sv),
       |dist AS (SELECT vec_id, sx.sub, ccs.code,
       |  round(xx - 2 * list_sum(list_transform(list_zip(xv, cv),
       |    z -> z[1] * z[2])) + ccs.cc, 9) AS d
       |  FROM sx JOIN ccs ON sx.sub = ccs.sub),
       |pqa AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, sub ORDER BY d, code) AS rk2 FROM dist)""".stripMargin

  /** PQ code assignment — twin of Similarity.pqEncode. */
  def pqCodes(m: Int, ksub: Int, subDim: Int): String =
    s"""WITH ${pqCtes(m, ksub, subDim)}
       |SELECT vec_id, cast(sub AS INT) AS sub, cast(code AS INT) AS code,
       |  d AS sq_dist
       |FROM pqa WHERE rk2 = 1 ORDER BY vec_id, sub""".stripMargin

  /** ADC top-k over PQ codes — twin of Similarity.pqAdcTopK: per
    * query a dense (sub, code) lookup table of scale-9-quantized
    * sub-distances; a vector's approximate distance is the exact
    * DECIMAL sum of its m code lookups; rank ties break on neighbor.
    */
  def knnPq(m: Int, ksub: Int, subDim: Int, k: Int): String =
    s"""WITH ${pqCtes(m, ksub, subDim)},
       |codes AS (SELECT vec_id AS neighbor_id, sub, code
       |  FROM pqa WHERE rk2 = 1),
       |q AS (SELECT vec_id AS query_id, sub, xv, xx FROM sx WHERE vec_id < 5),
       |dt AS (SELECT query_id, ccs.sub, ccs.code,
       |  round(xx - 2 * list_sum(list_transform(list_zip(xv, cv),
       |    z -> z[1] * z[2])) + ccs.cc, 9)::DECIMAL(18,9) AS dq
       |  FROM q JOIN ccs ON q.sub = ccs.sub),
       |sc AS (SELECT query_id, neighbor_id, sum(dq) AS adc
       |  FROM codes JOIN dt USING (sub, code)
       |  WHERE query_id <> neighbor_id GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, round(adc::DOUBLE, 5) AS adc_dist,
       |  cast(rank AS INT) AS rank
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF+PQ composed search — twin of Similarity.ivfPqTopK: the
    * knnIvf cell/probe pruning (on normalized vectors) intersected
    * with PQ ADC scoring over codes of the SAME normalized vectors
    * (squared L2 = 2 − 2·cos, monotone in cosine).
    */
  /** Shared IVF-PQ CTE chain ending at the ADC rank relation `r`
    * (query_id, neighbor_id, adc, rank) — composed by [[knnIvfPq]]
    * (plain top-k) and [[knnIvfPqRefined]] (exact-cosine rerank of
    * the ADC candidates).
    */
  private def knnIvfPqCore(m: Int, ksub: Int, subDim: Int,
      nlist: Int, nprobe: Int): String =
    s"""WITH $normCte,
       |${pqCtes(m, ksub, subDim, "SELECT vec_id, nv AS e FROM n")},
       |icents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN icents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |probes AS (SELECT vec_id AS query_id, centroid_id
       |  FROM ranked_a WHERE crank <= $nprobe AND vec_id < 5),
       |cand AS (SELECT query_id, neighbor_id
       |  FROM cells JOIN probes USING (centroid_id)
       |  WHERE query_id <> neighbor_id),
       |codes AS (SELECT vec_id AS neighbor_id, sub, code
       |  FROM pqa WHERE rk2 = 1),
       |q2 AS (SELECT vec_id AS query_id, sub, xv, xx FROM sx WHERE vec_id < 5),
       |dt AS (SELECT query_id, ccs.sub, ccs.code,
       |  round(xx - 2 * list_sum(list_transform(list_zip(xv, cv),
       |    z -> z[1] * z[2])) + ccs.cc, 9)::DECIMAL(18,9) AS dq
       |  FROM q2 JOIN ccs ON q2.sub = ccs.sub),
       |sc AS (SELECT c.query_id, c.neighbor_id, sum(dq) AS adc
       |  FROM cand c JOIN codes cd USING (neighbor_id)
       |  JOIN dt ON dt.query_id = c.query_id
       |    AND dt.sub = cd.sub AND dt.code = cd.code
       |  GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM sc)""".stripMargin

  def knnIvfPq(m: Int, ksub: Int, subDim: Int, k: Int,
      nlist: Int, nprobe: Int): String =
    s"""${knnIvfPqCore(m, ksub, subDim, nlist, nprobe)}
       |SELECT query_id, neighbor_id, round(adc::DOUBLE, 5) AS adc_dist,
       |  cast(rank AS INT) AS rank
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Residual IVF-PQ — twin of Similarity.ivfPqResidualTopK: residual
    * vectors (v − cell centroid) feed the SAME pqCtes codebook/encode
    * machinery; the ADC lookup table is keyed by (query, probed cell)
    * since the query's residual differs per cell; scoring joins on
    * (query, cell, sub, code).
    */
  def knnIvfPqResidual(m: Int, ksub: Int, subDim: Int, k: Int,
      nlist: Int, nprobe: Int): String =
    s"""WITH $normCte,
       |icents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN icents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |acell AS (SELECT vec_id, nv, centroid_id FROM ranked_a WHERE crank = 1),
       |rv AS (SELECT a.vec_id,
       |  list_transform(list_zip(a.nv, c.ce), z -> z[1] - z[2]) AS e,
       |  a.centroid_id
       |  FROM acell a JOIN icents c USING (centroid_id)),
       |${pqCtes(m, ksub, subDim, "SELECT vec_id, e FROM rv")},
       |codes AS (SELECT p.vec_id AS neighbor_id, r.centroid_id, p.sub, p.code
       |  FROM pqa p JOIN rv r ON p.vec_id = r.vec_id WHERE rk2 = 1),
       |probes AS (SELECT vec_id AS query_id, nv, centroid_id
       |  FROM ranked_a WHERE crank <= $nprobe AND vec_id < 5),
       |qrv AS (SELECT p.query_id, p.centroid_id,
       |  list_transform(list_zip(p.nv, c.ce), z -> z[1] - z[2]) AS qe
       |  FROM probes p JOIN icents c USING (centroid_id)),
       |qsv AS (SELECT query_id, centroid_id, s.sub,
       |  qe[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS xv
       |  FROM qrv CROSS JOIN range(0, $m) s(sub)),
       |qsx AS (SELECT query_id, centroid_id, sub, xv,
       |  list_sum(list_transform(xv, x -> x * x)) AS xx FROM qsv),
       |dt AS (SELECT query_id, centroid_id, ccs.sub, ccs.code,
       |  round(xx - 2 * list_sum(list_transform(list_zip(xv, cv),
       |    z -> z[1] * z[2])) + ccs.cc, 9)::DECIMAL(18,9) AS dq
       |  FROM qsx JOIN ccs ON qsx.sub = ccs.sub),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.centroid_id
       |  FROM acell a JOIN probes p USING (centroid_id)
       |  WHERE p.query_id <> a.vec_id),
       |sc AS (SELECT c.query_id, c.neighbor_id, sum(dq) AS adc
       |  FROM cand c
       |  JOIN codes cd ON cd.neighbor_id = c.neighbor_id
       |    AND cd.centroid_id = c.centroid_id
       |  JOIN dt ON dt.query_id = c.query_id
       |    AND dt.centroid_id = c.centroid_id
       |    AND dt.sub = cd.sub AND dt.code = cd.code
       |  GROUP BY 1, 2),
       |r2 AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, round(adc::DOUBLE, 5) AS adc_dist,
       |  cast(rank AS INT) AS rank
       |FROM r2 WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Two-stage compressed serving — twin of Similarity.ivfPqRefineTopK:
    * ADC top-candidateK candidates re-scored by EXACT cosine on the
    * normalized vectors, re-ranked, top-k.
    */
  def knnIvfPqRefined(m: Int, ksub: Int, subDim: Int, candidateK: Int,
      k: Int, nlist: Int, nprobe: Int): String =
    s"""${knnIvfPqCore(m, ksub, subDim, nlist, nprobe)},
       |cand2 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $candidateK),
       |re AS (SELECT c.query_id, c.neighbor_id,
       |  round(${dotSql("qn.nv", "nn.nv")}, 5) AS score
       |  FROM cand2 c
       |  JOIN n qn ON qn.vec_id = c.query_id
       |  JOIN n nn ON nn.vec_id = c.neighbor_id),
       |rr AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM re)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Phrase-blocklist report — twin of Curation.blocklistReport:
    * per distinct phrase length, positional L-grams (occurrences,
    * degenerate-window convention shared with Dedup.ngrams) joined
    * against the phrase list; per-doc occurrence/distinct counts,
    * sorted audit array, keep verdict. Phrases must not contain
    * single quotes (interpolated as SQL literals).
    */
  def blocklist(phrases: Seq[String]): String = {
    val byLen = phrases.distinct
      .groupBy(_.split(" ").count(_.nonEmpty)).toSeq.sortBy(_._1)
    val matchCtes = byLen.map { case (len, ps) =>
      val vals = ps.sorted.map(p => s"('$p')").mkString(", ")
      s"""m$len AS (SELECT doc_id, gram AS phrase FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${len - 1}, 1) + 1),
         |    i -> array_to_string(t[i:i+${len - 1}], ' '))) AS gram FROM toks)
         |  JOIN (VALUES $vals) b(phrase) ON gram = phrase)""".stripMargin
    }.mkString(",\n")
    val unioned = byLen.map(l => s"SELECT * FROM m${l._1}")
      .mkString(" UNION ALL ")
    s"""WITH $toksCte,
       |$matchCtes,
       |mm AS ($unioned),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS nm,
       |  list_sort(list_distinct(list(phrase))) AS mp FROM mm GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(nm, 0)::BIGINT AS n_matches,
       |  coalesce(len(mp), 0)::BIGINT AS n_phrases,
       |  (coalesce(nm, 0) = 0) AS keep
       |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** Exact-integer HALF_UP group average at 5 decimals — twin of
    * TextStats.decAvg5 (see its scaladoc for why double `round`
    * cannot be used on quantized-input averages: exact .5×10⁻⁵ ties).
    */
  private def decAvg5Sql(x: String): String =
    s"floor((cast(sum(cast($x AS DECIMAL(18,9))) * 1000000000 AS BIGINT) * 2 + count(*) * 10000)::DOUBLE" +
      s" / (count(*) * 10000 * 2)::DOUBLE) / 100000.0"

  /** IVF top-10 (nlist=16, nprobe=4) — twin of Similarity.ivfTopK.
    * Centroids are the vectors with the smallest md5(id), so both
    * engines build the identical inverted file; assignment and search
    * both score with one dot on the normalized vectors.
    */
  val knnIvf: String =
    s"""WITH $normCte,
       |cents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, nv AS cv, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |probes AS (SELECT vec_id AS query_id, nv AS qv, centroid_id
       |  FROM ranked_a WHERE crank <= 4 AND vec_id < 5),
       |scored AS (SELECT query_id, neighbor_id, ${dotSql("qv", "cv")} AS score
       |  FROM cells JOIN probes USING (centroid_id) WHERE query_id <> neighbor_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Graded ranking-quality report — twin of Eval.rankingQuality:
    * IVF run (knnIvf's CTE chain at the given nprobe) left-joined to
    * the brute-force truth; per-position terms gain/ln(p+1) and
    * hits/p quantized at scale 9 and summed exactly in DECIMAL(18,9);
    * MRR / AP / nDCG each one exact-operand double division rounded
    * at 5.
    */
  def rankingQuality(k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH $normCte,
       |cents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, nv AS cv, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |probes AS (SELECT vec_id AS query_id, nv AS qv, centroid_id
       |  FROM ranked_a WHERE crank <= $nprobe AND vec_id < 5),
       |scored AS (SELECT query_id, neighbor_id, ${dotSql("qv", "cv")} AS score
       |  FROM cells JOIN probes USING (centroid_id) WHERE query_id <> neighbor_id),
       |run AS (SELECT query_id, neighbor_id, rank FROM (SELECT *,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |  WHERE rank <= $k),
       |bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM n c CROSS JOIN (SELECT vec_id, nv FROM n WHERE vec_id < 5) q
       |  WHERE q.vec_id <> c.vec_id),
       |truth AS (SELECT query_id, neighbor_id, rank AS tr FROM (SELECT *,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM bf)
       |  WHERE rank <= $k),
       |cum AS (SELECT r.query_id, r.rank, t.tr,
       |  sum(CASE WHEN t.tr IS NOT NULL THEN 1 ELSE 0 END) OVER
       |    (PARTITION BY r.query_id ORDER BY r.rank) AS cumh
       |  FROM run r LEFT JOIN truth t
       |    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id),
       |terms AS (SELECT query_id,
       |  CASE WHEN tr IS NOT NULL THEN 1 ELSE 0 END AS hit, rank,
       |  (CASE WHEN tr IS NOT NULL THEN round((${k + 1} - tr)::DOUBLE /
       |    ln(rank::DOUBLE + 1), 9) ELSE 0 END)::DECIMAL(18,9) AS dcg_t,
       |  (CASE WHEN tr IS NOT NULL THEN round(cumh::DOUBLE /
       |    rank::DOUBLE, 9) ELSE 0 END)::DECIMAL(18,9) AS ap_t
       |  FROM cum),
       |per AS (SELECT query_id, sum(hit)::BIGINT AS nh,
       |  min(CASE WHEN hit = 1 THEN rank END) AS firsth,
       |  sum(dcg_t) AS dcg, sum(ap_t) AS aps FROM terms GROUP BY query_id),
       |ideal AS (SELECT query_id, count(*)::BIGINT AS n_truth,
       |  sum(round((${k + 1} - tr)::DOUBLE / ln(tr::DOUBLE + 1),
       |    9)::DECIMAL(18,9)) AS idcg FROM truth GROUP BY query_id)
       |SELECT i.query_id, coalesce(p.nh, 0)::BIGINT AS n_hit, i.n_truth,
       |  coalesce(round(1::DOUBLE / p.firsth::DOUBLE, 5), 0::DOUBLE) AS mrr,
       |  round(coalesce(p.aps, 0)::DOUBLE / i.n_truth::DOUBLE, 5)
       |    AS avg_precision,
       |  round(coalesce(p.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 5) AS ndcg
       |FROM ideal i LEFT JOIN per p USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** Recall@k tuning curve — twin of Similarity.annRecall: the
    * brute-force top-k truth ([[knnBruteForce]]'s shape) and, per
    * nprobe setting, the IVF retrieval from one shared ranked
    * assignment relation; hits counted per setting. Monotone in
    * nprobe and exactly 1.0 at nprobe = nlist by construction.
    */
  def annRecall(k: Int, nlist: Int, nprobes: Seq[Int]): String = {
    val settings = nprobes.distinct.sorted
    val perNp = settings.map { np =>
      s"""got$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER
         |    (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |  FROM (SELECT p.query_id, c.neighbor_id, ${dotSql("p.qv", "c.cv")} AS score
         |    FROM cells c JOIN probes p USING (centroid_id)
         |    WHERE p.query_id <> c.neighbor_id AND p.crank <= $np))
         |  WHERE rank <= $k),
         |hit$np AS (SELECT $np AS nprobe, count(*)::BIGINT AS n_hit
         |  FROM got$np JOIN truth USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val unioned = settings.map(np => s"SELECT * FROM hit$np").mkString(" UNION ALL ")
    s"""WITH $normCte,
       |cents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, nv AS cv, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |probes AS (SELECT vec_id AS query_id, nv AS qv, centroid_id, crank
       |  FROM ranked_a WHERE crank <= ${settings.max} AND vec_id < 5),
       |bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM n c CROSS JOIN (SELECT vec_id, nv FROM n WHERE vec_id < 5) q
       |  WHERE q.vec_id <> c.vec_id),
       |truth AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM bf)
       |  WHERE rank <= $k),
       |tc AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
       |$perNp
       |SELECT nprobe, n_hit, n_truth,
       |  round(n_hit::DOUBLE / n_truth::DOUBLE, 5) AS recall
       |FROM ($unioned) CROSS JOIN tc ORDER BY nprobe""".stripMargin
  }

  /** Matryoshka prefix-dim recall — twin of
    * Similarity.matryoshkaRecall: full-width brute-force truth, then
    * per-prefix re-normalized slices e[1:d] scored with the same
    * sequential-fold dot, rank ≤ k, hit counts against the truth.
    */
  def matryoshkaRecall(k: Int, prefixDims: Seq[Int]): String = {
    val ds = prefixDims.distinct.sorted
    val per = ds.map { d =>
      s"""p$d AS (SELECT vec_id, e[1:$d] AS p FROM v),
         |n$d AS (SELECT vec_id, list_transform(p, x -> x /
         |  sqrt(list_sum(list_transform(p, y -> y * y)))) AS nv FROM p$d),
         |bf$d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${dotSql("q.nv", "c.nv")} AS score
         |  FROM n$d c CROSS JOIN
         |    (SELECT vec_id, nv FROM n$d WHERE vec_id < 5) q
         |  WHERE q.vec_id <> c.vec_id),
         |got$d AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS rank FROM bf$d)
         |  WHERE rank <= $k),
         |hit$d AS (SELECT $d AS prefix_dims, count(*)::BIGINT AS n_hit
         |  FROM got$d JOIN truth USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val unioned = ds.map(d => s"SELECT * FROM hit$d").mkString(" UNION ALL ")
    s"""WITH $normCte,
       |bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM n c CROSS JOIN (SELECT vec_id, nv FROM n WHERE vec_id < 5) q
       |  WHERE q.vec_id <> c.vec_id),
       |truth AS (SELECT query_id, neighbor_id FROM (SELECT *,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM bf)
       |  WHERE rank <= $k),
       |tc AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
       |$per
       |SELECT prefix_dims, n_hit, n_truth,
       |  round(n_hit::DOUBLE / n_truth::DOUBLE, 5) AS recall
       |FROM ($unioned) CROSS JOIN tc ORDER BY prefix_dims""".stripMargin
  }

  /** IVF-PQ recall@k curve — twin of Similarity.annRecallPq: one
    * shared chain for the normalized vectors, PQ codebook/codes/ADC
    * tables and the IVF ranked assignment ([[knnIvfPqCore]]'s
    * structure), then per-nprobe candidate joins, ADC rank, and hit
    * counts against the brute-force truth.
    */
  def annRecallPq(m: Int, ksub: Int, subDim: Int, k: Int, nlist: Int,
      nprobes: Seq[Int]): String = {
    val settings = nprobes.distinct.sorted
    val perNp = settings.map { np =>
      s"""pc$np AS (SELECT p.query_id, c.neighbor_id
         |  FROM cells c JOIN (SELECT vec_id AS query_id, centroid_id
         |    FROM ranked_a WHERE crank <= $np AND vec_id < 5) p
         |  USING (centroid_id) WHERE p.query_id <> c.neighbor_id),
         |pq$np AS (SELECT c.query_id, c.neighbor_id, sum(dq) AS adc
         |  FROM pc$np c JOIN codes cd USING (neighbor_id)
         |  JOIN dt ON dt.query_id = c.query_id
         |    AND dt.sub = cd.sub AND dt.code = cd.code
         |  GROUP BY 1, 2),
         |pg$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM pq$np)
         |  WHERE rank <= $k),
         |ph$np AS (SELECT $np AS nprobe, count(*)::BIGINT AS n_hit
         |  FROM pg$np JOIN truth USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val unioned = settings.map(np => s"SELECT * FROM ph$np").mkString(" UNION ALL ")
    s"""WITH $normCte,
       |${pqCtes(m, ksub, subDim, "SELECT vec_id, nv AS e FROM n")},
       |icents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN icents c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |codes AS (SELECT vec_id AS neighbor_id, sub, code
       |  FROM pqa WHERE rk2 = 1),
       |q2 AS (SELECT vec_id AS query_id, sub, xv, xx FROM sx WHERE vec_id < 5),
       |dt AS (SELECT query_id, ccs.sub, ccs.code,
       |  round(xx - 2 * list_sum(list_transform(list_zip(xv, cv),
       |    z -> z[1] * z[2])) + ccs.cc, 9)::DECIMAL(18,9) AS dq
       |  FROM q2 JOIN ccs ON q2.sub = ccs.sub),
       |bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nv", "c.nv")} AS score
       |  FROM n c CROSS JOIN (SELECT vec_id, nv FROM n WHERE vec_id < 5) q
       |  WHERE q.vec_id <> c.vec_id),
       |truth AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM bf)
       |  WHERE rank <= $k),
       |tc AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
       |$perNp
       |SELECT nprobe, n_hit, n_truth,
       |  round(n_hit::DOUBLE / n_truth::DOUBLE, 5) AS recall
       |FROM ($unioned) CROSS JOIN tc ORDER BY nprobe""".stripMargin
  }

  /** IVF with ONE deterministic Lloyd refinement — twin of
    * Similarity.ivfTopK(refine = 1): seed assignment (rounded cosine,
    * centroid-id tie-break, exactly [[Similarity.ivfAssign]]),
    * per-cell per-dim means from `DECIMAL(28,12)`-quantized exact
    * sums, re-normalized, then the standard cells/probes/top-k over
    * the REFINED centroids.
    */
  val knnIvfRefined: String =
    s"""WITH $normCte,
       |cents AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |a0 AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cents c),
       |r0 AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM a0),
       |cells0 AS (SELECT vec_id, nv, centroid_id FROM r0 WHERE crank = 1),
       |dimv AS (SELECT centroid_id, dim, nv[dim] AS v
       |  FROM cells0, range(1, 65) t(dim)),
       |sums AS (SELECT centroid_id, dim,
       |  sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS m
       |  FROM dimv GROUP BY centroid_id, dim),
       |mraw AS (SELECT centroid_id, list(m ORDER BY dim) AS mv
       |  FROM sums GROUP BY centroid_id),
       |cent1 AS (SELECT centroid_id, list_transform(mv, x -> x /
       |  sqrt(list_sum(list_transform(mv, y -> y * y)))) AS ce FROM mraw),
       |ascore AS (SELECT n.vec_id, n.nv, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cent1 c),
       |ranked_a AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM ascore),
       |cells AS (SELECT vec_id AS neighbor_id, nv AS cv, centroid_id
       |  FROM ranked_a WHERE crank = 1),
       |probes AS (SELECT vec_id AS query_id, nv AS qv, centroid_id
       |  FROM ranked_a WHERE crank <= 4 AND vec_id < 5),
       |scored AS (SELECT query_id, neighbor_id, ${dotSql("qv", "cv")} AS score
       |  FROM cells JOIN probes USING (centroid_id) WHERE query_id <> neighbor_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** K-means cluster profile — twin of Similarity.kmeansProfile:
    * md5-sampled seeds, `refine` Lloyd steps (each an exact copy of
    * the [[knnIvfRefined]] refinement block: rounded-cosine nearest
    * assignment, DECIMAL(28,12)-exact per-dim means, renormalize),
    * final assignment, then per-cluster size / exact HALF_UP mean
    * cohesion ([[decAvg5Sql]]) / min cohesion.
    */
  /** Shared CTE chain ending in `assigned(vec_id, centroid_id,
    * cscore)` — the refined-k-means assignment both [[kmeansProfile]]
    * and [[clusterSample]] read.
    */
  private def kmeansAssignCtes(nlist: Int, refine: Int): String = {
    // cent0 = sampled seeds; each step i reads cent{i} → cent{i+1}
    val steps = (0 until refine).map { i =>
      s"""a$i AS (SELECT n.vec_id, n.nv, c.centroid_id,
         |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cent$i c),
         |r$i AS (SELECT *, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM a$i),
         |cells$i AS (SELECT vec_id, nv, centroid_id FROM r$i WHERE crank = 1),
         |dimv$i AS (SELECT centroid_id, dim, nv[dim] AS v
         |  FROM cells$i, range(1, 65) t(dim)),
         |sums$i AS (SELECT centroid_id, dim,
         |  sum(v::DECIMAL(28,12))::DOUBLE / count(*) AS m
         |  FROM dimv$i GROUP BY centroid_id, dim),
         |mraw$i AS (SELECT centroid_id, list(m ORDER BY dim) AS mv
         |  FROM sums$i GROUP BY centroid_id),
         |cent${i + 1} AS (SELECT centroid_id, list_transform(mv, x -> x /
         |  sqrt(list_sum(list_transform(mv, y -> y * y)))) AS ce FROM mraw$i)""".stripMargin
    }.mkString(",\n")
    s"""$normCte,
       |cent0 AS (SELECT vec_id AS centroid_id, nv AS ce FROM n
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |$steps,
       |af AS (SELECT n.vec_id, c.centroid_id,
       |  ${dotSql("n.nv", "c.ce")} AS cscore FROM n CROSS JOIN cent$refine c),
       |rf AS (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS crank FROM af),
       |assigned AS (SELECT vec_id, centroid_id, cscore FROM rf WHERE crank = 1)""".stripMargin
  }

  def kmeansProfile(nlist: Int, refine: Int): String =
    s"""WITH ${kmeansAssignCtes(nlist, refine)}
       |SELECT centroid_id AS cluster_id, count(*)::BIGINT AS cluster_size,
       |  ${decAvg5Sql("cscore")} AS mean_cohesion,
       |  min(cscore) AS min_cohesion
       |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cluster-capped diversity sample — twin of
    * Similarity.clusterSample: within each refined-k-means cluster,
    * keep the `cap` members with the smallest md5(vec_id) (the shared
    * deterministic-membership convention), centroid-cosine tie-break
    * irrelevant since md5 keys are unique per id.
    */
  def clusterSample(nlist: Int, refine: Int, cap: Int): String =
    s"""WITH ${kmeansAssignCtes(nlist, refine)},
       |ranked AS (SELECT vec_id, centroid_id AS cluster_id, cscore,
       |  row_number() OVER (PARTITION BY centroid_id
       |    ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id) AS pick
       |  FROM assigned)
       |SELECT vec_id, cluster_id, cscore, cast(pick AS INT) AS pick
       |FROM ranked WHERE pick <= $cap ORDER BY vec_id""".stripMargin

  /** Corpus text statistics per (lang, source) — twin of
    * TextStats.corpusStats. Raw (unrounded) ratios feed the quality
    * blend exactly as the Spark side does.
    */
  val textStats: String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, source, t, text, length(text)::DOUBLE AS nc FROM toks
       |  JOIN documents USING (doc_id)),
       |m AS (SELECT lang, source,
       |  len(t)::BIGINT AS n_tokens,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS est_bpe,
       |  CASE WHEN len(t) > 0 THEN round((nc - (len(t)::DOUBLE - 1)) / len(t)::DOUBLE, 5) ELSE 0.0 END AS avg_token_len,
       |  CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN ('a', 'the')))::DOUBLE / len(t)::DOUBLE ELSE 0.0 END AS stop_raw,
       |  CASE WHEN nc > 0 THEN (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / nc ELSE 0.0 END AS alpha_raw,
       |  $qualityScoreSql AS quality_score
       |  FROM d),
       |m2 AS (SELECT lang, source, n_tokens, est_bpe, avg_token_len,
       |  round(stop_raw, 5) AS stopword_ratio,
       |  round(alpha_raw, 5) AS alpha_ratio,
       |  quality_score
       |  FROM m)
       |SELECT lang, source, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS total_tokens,
       |  sum(est_bpe)::BIGINT AS total_bpe_tokens,
       |  ${decAvg5Sql("n_tokens")} AS avg_tokens,
       |  ${decAvg5Sql("avg_token_len")} AS avg_avg_token_len,
       |  ${decAvg5Sql("stopword_ratio")} AS avg_stopword_ratio,
       |  ${decAvg5Sql("alpha_ratio")} AS avg_alpha_ratio,
       |  ${decAvg5Sql("quality_score")} AS avg_quality
       |FROM m2 GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Per-document text metrics — twin of TextStats.withDocStats. */
  val textDocStats: String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, t, text, length(text)::DOUBLE AS nc FROM toks
       |  JOIN documents USING (doc_id))
       |SELECT doc_id,
       |  len(t)::BIGINT AS n_tokens,
       |  length(text)::BIGINT AS n_chars_obs,
       |  CASE WHEN len(t) > 0 THEN round((nc - (len(t)::DOUBLE - 1)) / len(t)::DOUBLE, 5) ELSE 0.0 END AS avg_token_len,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS est_bpe_tokens,
       |  round(CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN ('a', 'the')))::DOUBLE / len(t)::DOUBLE ELSE 0.0 END, 5) AS stopword_ratio,
       |  round(CASE WHEN nc > 0 THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nc ELSE 0.0 END, 5) AS punct_ratio,
       |  round(CASE WHEN nc > 0 THEN (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / nc ELSE 0.0 END, 5) AS alpha_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM d ORDER BY doc_id""".stripMargin

  /** Per-language score calibration — twin of Curation.calibrateScores
    * over the quality blend: identical integer rank/count arithmetic,
    * identical (score, doc_id) tie order.
    */
  val scoreCalibrate: String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, t, text FROM toks JOIN documents USING (doc_id)),
       |q AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score FROM d),
       |r AS (SELECT doc_id, lang, quality_score,
       |  row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY lang) AS n FROM q)
       |SELECT doc_id, lang, quality_score,
       |  round((rk - 1)::DOUBLE / greatest(n - 1, 1)::DOUBLE, 5) AS calibrated
       |FROM r ORDER BY doc_id""".stripMargin

  /** Language-ID by profile-token scoring — twin of TextStats.langId. */
  val textLangId: String = {
    val values = graft.ext.TextStats.LangProfiles
      .map { case (l, t, w) => s"('$l', '$t', $w)" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
       |profile AS (SELECT * FROM (VALUES $values) p(cand_lang, token, weight)),
       |scores AS (SELECT doc_id, cand_lang, sum(weight)::BIGINT AS score
       |  FROM toks JOIN profile USING (token) GROUP BY doc_id, cand_lang),
       |ranked AS (SELECT doc_id, cand_lang, score, row_number() OVER
       |  (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn FROM scores)
       |SELECT doc_id, cand_lang AS predicted_lang, score
       |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Chunk-level language mix — twin of TextStats.langIdChunks:
    * non-overlapping chunk windows, per-chunk argmax over the shared
    * profile, doc-level majority with (count desc, lang asc)
    * tie-break; unscorable chunks drop out.
    */
  def langIdChunks(chunkTokens: Int): String = {
    val values = graft.ext.TextStats.LangProfiles
      .map { case (l, t, w) => s"('$l', '$t', $w)" }.mkString(", ")
    s"""WITH $toksCte,
       |n AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM toks),
       |c AS (SELECT doc_id, t, n, unnest(range(0,
       |  CASE WHEN n > 0 THEN (n - 1) // $chunkTokens + 1 ELSE 1 END)) AS ci FROM n),
       |ct AS (SELECT doc_id, ci,
       |  unnest(t[(ci * $chunkTokens + 1):(ci * $chunkTokens + $chunkTokens)]) AS token
       |  FROM c),
       |profile AS (SELECT * FROM (VALUES $values) p(cand_lang, token, weight)),
       |scores AS (SELECT doc_id, ci, cand_lang, sum(weight)::BIGINT AS score
       |  FROM ct JOIN profile USING (token) GROUP BY 1, 2, 3),
       |ranked AS (SELECT doc_id, ci, cand_lang, row_number() OVER
       |  (PARTITION BY doc_id, ci ORDER BY score DESC, cand_lang) AS rn FROM scores),
       |chunkpred AS (SELECT doc_id, ci, cand_lang FROM ranked WHERE rn = 1),
       |perlang AS (SELECT doc_id, cand_lang, count(*)::BIGINT AS n_chunks_lang
       |  FROM chunkpred GROUP BY 1, 2),
       |agg AS (SELECT doc_id, cand_lang, n_chunks_lang,
       |  row_number() OVER (PARTITION BY doc_id
       |    ORDER BY n_chunks_lang DESC, cand_lang) AS rn,
       |  sum(n_chunks_lang) OVER (PARTITION BY doc_id) AS n_chunks_scored,
       |  count(*) OVER (PARTITION BY doc_id) AS n_langs_detected
       |  FROM perlang)
       |SELECT doc_id, n_chunks_scored::BIGINT AS n_chunks_scored,
       |  n_langs_detected::BIGINT AS n_langs_detected,
       |  cand_lang AS majority_lang,
       |  (n_langs_detected > 1) AS is_mixed
       |FROM agg WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprint + bottom-k sketch — twin of
    * TextStats.fingerprints(k=4).
    */
  val textFingerprint: String =
    """WITH toks AS (SELECT doc_id,
      |  list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents)
      |SELECT doc_id,
      |  md5(array_to_string(list_sort(t), ' ')) AS fingerprint,
      |  array_to_string(list_sort(list_transform(t, x -> md5(x)))[1:4], '') AS bottomk_sketch
      |FROM toks ORDER BY doc_id""".stripMargin

  /** Deterministic uniform in [0,1) from md5(salt|id) — twin of
    * Sampling.hashUniform (same 8 hex digits, same exact scale).
    */
  private def hashUniformSql(salt: String): String =
    hashUniformSqlOn(salt, "doc_id")

  private def hashUniformSqlOn(salt: String, idExpr: String): String =
    s"cast('0x' || substr(md5('$salt|' || $idExpr), 1, 8) AS BIGINT)::DOUBLE / 4294967296.0"

  /** DSIR importance-weight CTE chain — twin of
    * Importance.importanceWeights with target = documents in
    * `targetLang`. Ends in `iw(doc_id, n_tokens, log_ratio)`, one row
    * per document. Laplace-smoothed unigram LMs over the union
    * vocabulary; per-token ln of an exact integer quotient quantized
    * to DECIMAL(18,9); HALF-UP 5-decimal per-doc mean.
    */
  private def importanceCtes(targetLang: String): String =
    s"""$toksCte,
       |$uniCte,
       |icr AS (SELECT g, count(*)::BIGINT AS c_raw FROM uni GROUP BY g),
       |ict AS (SELECT g, count(*)::BIGINT AS c_tgt FROM uni
       |  JOIN documents USING (doc_id) WHERE lang = '$targetLang' GROUP BY g),
       |ivocab AS (SELECT coalesce(icr.g, ict.g) AS g,
       |  coalesce(c_raw, 0)::BIGINT AS c_raw, coalesce(c_tgt, 0)::BIGINT AS c_tgt
       |  FROM icr FULL OUTER JOIN ict ON icr.g = ict.g),
       |iscal AS (SELECT sum(c_raw)::BIGINT AS n_raw, sum(c_tgt)::BIGINT AS n_tgt,
       |  count(*)::BIGINT AS v FROM ivocab),
       |ilr AS (SELECT g, round(ln(((c_tgt + 1) * (n_raw + v))::DOUBLE /
       |    ((c_raw + 1) * (n_tgt + v))::DOUBLE), 9)::DECIMAL(18,9) AS lr
       |  FROM ivocab CROSS JOIN iscal),
       |iper AS (SELECT doc_id, count(*)::BIGINT AS nt, ${decAvg5Sql("lr")} AS lrm
       |  FROM uni JOIN ilr USING (g) GROUP BY doc_id),
       |iw AS (SELECT d.doc_id, coalesce(nt, 0)::BIGINT AS n_tokens,
       |  coalesce(lrm, 0.0) AS log_ratio
       |  FROM documents d LEFT JOIN iper USING (doc_id))""".stripMargin

  /** Per-document importance weights — twin of q_importance_weights. */
  def importanceWeights(targetLang: String): String =
    s"""WITH ${importanceCtes(targetLang)}
       |SELECT doc_id, n_tokens, log_ratio FROM iw ORDER BY doc_id""".stripMargin

  /** Deterministic Gumbel top-k DSIR selection — twin of
    * Importance.dsirResample: key = weight + Gumbel(md5-uniform),
    * both quantized at scale 9, top-k with doc_id tie-break.
    */
  def dsirSample(k: Int, targetLang: String, salt: String): String =
    s"""WITH ${importanceCtes(targetLang)},
       |sel AS (SELECT doc_id, n_tokens, log_ratio,
       |  round(log_ratio + round(-ln(-ln(
       |    (cast('0x' || substr(md5('$salt|' || doc_id), 1, 8) AS BIGINT)::DOUBLE + 0.5)
       |      / 4294967296.0)), 9), 9) AS sample_key
       |  FROM iw)
       |SELECT doc_id, n_tokens, log_ratio, sample_key,
       |  cast(row_number() OVER (ORDER BY sample_key DESC, doc_id) AS INT) AS rank
       |FROM sel ORDER BY sample_key DESC, doc_id LIMIT $k""".stripMargin

  /** Deterministic training-order shuffle — twin of
    * Sampling.shuffleOrder. The oracle computes global_pos with the
    * NAIVE single global window, independently cross-checking the
    * engine's two-phase offset + within-shard rank decomposition.
    */
  def shuffleOrder(shards: Int, salt: String): String = {
    val span = 65536 / shards
    s"""WITH h AS (SELECT doc_id, md5('$salt|' || doc_id) AS hh FROM documents)
       |SELECT doc_id,
       |  cast(cast('0x' || substr(hh, 1, 4) AS BIGINT) // $span AS INT) AS shard,
       |  (row_number() OVER (PARTITION BY cast('0x' || substr(hh, 1, 4) AS BIGINT) // $span
       |     ORDER BY hh, doc_id) - 1)::BIGINT AS shard_pos,
       |  (row_number() OVER (ORDER BY hh, doc_id) - 1)::BIGINT AS global_pos
       |FROM h ORDER BY global_pos""".stripMargin
  }

  /** Deterministic k-fold assignment — twin of Sampling.kfold: the
    * same first-8-md5-hex integer, mod k in exact integer arithmetic.
    */
  def kfold(k: Int, salt: String): String =
    s"""SELECT doc_id, text, lang, source, n_chars,
       |  cast(cast('0x' || substr(md5('$salt|' || doc_id), 1, 8) AS BIGINT)
       |    % $k AS INT) AS fold
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact-budget sample — twin of Sampling.fixedSizeSample: the n
    * smallest md5(salt|id) rows, id tie-break.
    */
  def sampleFixed(n: Int, salt: String): String =
    s"""SELECT * FROM (
       |  SELECT doc_id, text, lang, source, n_chars
       |  FROM documents
       |  ORDER BY md5('$salt|' || doc_id), doc_id LIMIT $n)
       |ORDER BY doc_id""".stripMargin

  /** Group-aware split — twin of Sampling.trainTestSplit keyed on the
    * GROUP id (`source`): membership is a function of the group
    * alone, so every document of a source lands on the same side —
    * the leakage guard when near-identical docs cluster within a
    * source. Same md5-uniform as the row-level split.
    */
  def splitBySource(testFraction: Double): String =
    s"""WITH s AS (SELECT source,
       |  CASE WHEN ${hashUniformSqlOn("gsplit", "source")} < $testFraction
       |    THEN 'test' ELSE 'train' END AS split FROM documents)
       |SELECT source, split, count(*)::BIGINT AS n_docs
       |FROM s GROUP BY source, split ORDER BY source""".stripMargin

  /** Near-dup-leakage-free split — twin of Sampling.splitByCluster:
    * the [[dedupClusters]] recursive closure chain, then one
    * md5-uniform decision per CLUSTER id.
    */
  def splitByCluster(testFraction: Double, salt: String): String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM mh
       |  UNION ALL SELECT id_b, id_a FROM mh),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
       |SELECT id AS doc_id, cluster_id,
       |  CASE WHEN ${hashUniformSqlOn(salt, "cluster_id")} < $testFraction
       |    THEN 'test' ELSE 'train' END AS split
       |FROM cc ORDER BY doc_id""".stripMargin

  /** Per-stratum deterministic sample — twin of
    * Sampling.stratifiedSample with the query's shared rate map.
    */
  def sampleStratified(rates: Map[String, Double], defaultRate: Double): String = {
    val cases = rates.toSeq.sorted
      .map { case (k, r) => s"WHEN '$k' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${hashUniformSql("strata")} < CASE lang $cases ELSE $defaultRate END
       |ORDER BY doc_id""".stripMargin
  }

  /** Train/test split counts per language — twin of
    * Sampling.trainTestSplit + roll-up.
    */
  def sampleSplit(testFraction: Double): String =
    s"""WITH s AS (SELECT lang,
       |  CASE WHEN ${hashUniformSql("split")} < $testFraction
       |    THEN 'test' ELSE 'train' END AS split FROM documents)
       |SELECT lang, split, count(*)::BIGINT AS n_docs
       |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** Token-mixture rebalance — twin of Sampling.rebalanceToMixture:
    * the oracle recomputes the per-stratum totals, the binding
    * constant K = min(t_s / w_s) and the keep rates w_s·K/t_s in SQL
    * (identical left-to-right IEEE arithmetic), then applies the same
    * md5 membership and rolls up the kept corpus.
    */
  def mixtureRebalance(weights: Map[String, Double]): String = {
    val values = weights.toSeq.sorted
      .map { case (s, w) => s"('$s', ${w}::DOUBLE)" }.mkString(", ")
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, len(t)::BIGINT AS n_tokens
       |  FROM toks JOIN documents USING (doc_id)),
       |tot AS (SELECT lang, sum(n_tokens)::BIGINT AS tt FROM d GROUP BY lang),
       |w AS (SELECT * FROM (VALUES $values) w(lang, wt)),
       |k AS (SELECT min(tt::DOUBLE / wt) AS k FROM tot JOIN w USING (lang)),
       |r AS (SELECT lang, wt * k.k / tt::DOUBLE AS rate FROM tot JOIN w USING (lang), k),
       |s AS (SELECT d.lang, d.n_tokens FROM d JOIN r USING (lang)
       |  WHERE ${hashUniformSql("mixture")} < rate)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS kept_tokens
       |FROM s GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Data-constrained epoch plan — twin of Sampling.epochPlan: the
    * same ppm integer weights, HUGEINT `//` targets, max-repeat cap
    * and two single divisions.
    */
  def epochPlan(weights: Map[String, Double], budgetTokens: Long,
      maxRepeats: Int): String = {
    val values = weights.toSeq.sorted
      .map { case (s, w) => s"('$s', ${math.round(w * 1000000L)})" }
      .mkString(", ")
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, len(t)::BIGINT AS n_tokens
       |  FROM toks JOIN documents USING (doc_id)),
       |tot AS (SELECT lang, sum(n_tokens)::BIGINT AS corpus_tokens
       |  FROM d GROUP BY lang),
       |w AS (SELECT * FROM (VALUES $values) w(lang, ppm)),
       |p AS (SELECT tot.lang, corpus_tokens,
       |  (($budgetTokens)::HUGEINT * ppm // 1000000)::BIGINT AS target_tokens
       |  FROM tot JOIN w USING (lang)),
       |k AS (SELECT lang, corpus_tokens, target_tokens,
       |  least(target_tokens::HUGEINT,
       |    corpus_tokens::HUGEINT * $maxRepeats)::BIGINT AS kept FROM p)
       |SELECT lang, corpus_tokens, target_tokens,
       |  CASE WHEN corpus_tokens > 0 THEN
       |    round(target_tokens::DOUBLE / corpus_tokens::DOUBLE, 5)
       |  END AS repeats_needed,
       |  CASE WHEN corpus_tokens > 0 THEN
       |    round(kept::DOUBLE / corpus_tokens::DOUBLE, 5)
       |  END AS epochs,
       |  (target_tokens - kept)::BIGINT AS deficit_tokens
       |FROM k ORDER BY lang""".stripMargin
  }

  /** Temperature-flattened mixture (α = 1/2) — twin of
    * Sampling.temperatureMixture: rate = (sqrt(t) * min(sqrt(t))) / t,
    * identical left-to-right IEEE arithmetic (sqrt is correctly
    * rounded in both engines — the reason α is pinned to 1/2).
    */
  val temperatureMixture: String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, len(t)::BIGINT AS n_tokens
       |  FROM toks JOIN documents USING (doc_id)),
       |tot AS (SELECT lang, sum(n_tokens)::BIGINT AS tt FROM d GROUP BY lang),
       |k AS (SELECT min(sqrt(tt::DOUBLE)) AS k FROM tot),
       |r AS (SELECT lang, sqrt(tt::DOUBLE) * k.k / tt::DOUBLE AS rate FROM tot, k),
       |s AS (SELECT d.lang, d.n_tokens FROM d JOIN r USING (lang)
       |  WHERE ${hashUniformSql("temperature")} < rate)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS kept_tokens
       |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** Held-out decontamination — twin of
    * Decontamination.contaminationReport over the deterministic
    * train/test split (same md5 membership as sampleSplit): per
    * contaminated TRAIN doc, how many of its distinct 3-gram shingles
    * occur anywhere in the test split.
    */
  def decontam(testFraction: Double): String =
    s"""WITH $toksCte, $shCte,
       |te AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
       |  WHERE ${hashUniformSql("split")} < $testFraction),
       |tr AS (SELECT doc_id, unnest(s) AS shingle FROM sh
       |  WHERE NOT (${hashUniformSql("split")} < $testFraction))
       |SELECT doc_id, count(*)::BIGINT AS n_hits
       |FROM tr JOIN te USING (shingle)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-doc repetition metrics — twin of TextStats.repetitionStats.
    * The bigram-window convention and the shared ratios live in
    * [[repetitionCtes]]; only the top-token metric is local.
    */
  val textRepetition: String =
    s"""WITH $toksCte, $uniCte,
       |$repetitionCtes,
       |unic AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM uni GROUP BY doc_id, g),
       |unia AS (SELECT doc_id, max(c) AS topc FROM unic GROUP BY doc_id)
       |SELECT repx.doc_id, repx.n_tokens, repx.n_distinct_tokens,
       |  repx.distinct_token_ratio,
       |  CASE WHEN repx.n_tokens > 0
       |    THEN round(unia.topc::DOUBLE / repx.n_tokens::DOUBLE, 5) ELSE 0.0 END
       |    AS top_token_frac,
       |  repx.top_bigram_frac
       |FROM repx LEFT JOIN unia USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Deterministic shuffle + sharding — twin of Sharding.shardCorpus:
    * same md5-derived shard assignment and within-shard rank.
    */
  def shard(numShards: Int): String =
    s"""WITH h AS (SELECT doc_id, md5('shard|' || doc_id) AS hx FROM documents),
       |s AS (SELECT doc_id, hx,
       |  (cast('0x' || substr(hx, 1, 8) AS BIGINT) % $numShards)::INT AS shard_id FROM h)
       |SELECT doc_id, shard_id,
       |  (row_number() OVER (PARTITION BY shard_id ORDER BY hx, doc_id) - 1)::BIGINT AS shard_pos
       |FROM s ORDER BY doc_id""".stripMargin

  /** Best-k docs per language by quality — twin of
    * Sampling.topKPerGroup over TextStats.withDocStats quality_score
    * (the same quality expression as [[textDocStats]]).
    */
  def topQualityPerLang(k: Int): String =
    s"""WITH $toksCte,
       |q AS (SELECT d.doc_id, d.lang, $qualityScoreSql AS quality_score
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
       |r AS (SELECT doc_id, lang, quality_score, row_number() OVER
       |  (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn FROM q)
       |SELECT doc_id, lang, quality_score FROM r WHERE rn <= $k
       |ORDER BY lang, doc_id""".stripMargin

  /** PII redaction audit — twin of TextStats.withRedaction over the
    * same crafted contact suffix. Pattern constants are the shared
    * TextStats regexes; DuckDB needs the explicit 'g' flag to match
    * Spark's replace-all default.
    */
  val redact: String = {
    val em = graft.ext.TextStats.EmailRegex
    val num = graft.ext.TextStats.LongNumberRegex
    s"""WITH c AS (SELECT doc_id,
       |  text || ' contact user' || doc_id || '@mail.example.com or 55512' || doc_id || '00' AS text
       |  FROM documents),
       |e AS (SELECT doc_id, text,
       |  regexp_replace(text, '$em', '<EMAIL>', 'g') AS scrubbed FROM c)
       |SELECT doc_id,
       |  cast(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
       |  cast(len(regexp_extract_all(scrubbed, '$num')) AS INT) AS n_longnums,
       |  md5(regexp_replace(scrubbed, '$num', '<NUM>', 'g')) AS redacted_md5
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Quality-weighted sample — twin of Sampling.weightedSample over
    * the shared quality score (same md5 membership, same clamp).
    */
  val sampleWeighted: String =
    s"""WITH $toksCte,
       |q AS (SELECT d.doc_id, d.lang, $qualityScoreSql AS quality_score
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id)
       |SELECT doc_id, lang, quality_score FROM q
       |WHERE ${hashUniformSql("weighted")} < least(greatest(quality_score, 0.0), 1.0)
       |ORDER BY doc_id""".stripMargin

  /** Relative-quantile gate — twin of Curation.quantileGate over the
    * shared quality score: keep rows with
    * `rank * keepDen <= n_group * keepNum` (pure integer floor
    * cutoff, row_number ranked by score DESC then doc_id).
    */
  def quantileGate(keepNum: Int, keepDen: Int): String =
    s"""WITH $toksCte,
       |q AS (SELECT d.doc_id, d.lang, $qualityScoreSql AS quality_score
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
       |r AS (SELECT doc_id, lang, quality_score,
       |  count(*) OVER (PARTITION BY lang) AS n_group,
       |  row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn
       |  FROM q)
       |SELECT doc_id, lang, quality_score, n_group::BIGINT AS n_group,
       |  cast(rn AS INT) AS rank_in_group
       |FROM r WHERE rn * $keepDen <= n_group * $keepNum
       |ORDER BY doc_id""".stripMargin

  /** Per-doc OOV rate vs the corpus top-V vocabulary — twin of
    * TextStats.vocabCoverage (same count-desc/token-asc vocab order,
    * incl. the zero-token-doc row). Shared CTEs: [[vocabCtes]].
    */
  def vocabCoverage(v: Int): String =
    s"""WITH $toksCte, $uniCte,
       |${vocabCtes(v)}
       |SELECT doc_id, n_tokens, n_oov, oov_rate
       |FROM oovx ORDER BY doc_id""".stripMargin

  /** Deterministic KMV distinct rollup — twin of
    * Sketches.dailyKmvSketches + rollupDistinctKmv: identical md5
    * digests, per-day bottom-k, merged bottom-k of the union, and the
    * (k−1)/U(k) estimator with U(k) from the first 15 hex digits of
    * the kth smallest digest (exact count below k).
    */
  def kmvRollup(k: Int): String =
    s"""WITH hashed AS (SELECT DISTINCT event_type,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |  md5(user_id::VARCHAR) AS h FROM events),
       |daily AS (SELECT event_type, day_num, h FROM (
       |  SELECT *, row_number() OVER (PARTITION BY event_type, day_num ORDER BY h) AS r
       |  FROM hashed) WHERE r <= $k),
       |ranked AS (SELECT event_type, h,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
       |  FROM (SELECT DISTINCT event_type, h FROM daily))
       |SELECT event_type,
       |  CASE WHEN count(*) < $k THEN count(*)::DOUBLE
       |    ELSE round((${k - 1})::DOUBLE /
       |      (cast('0x' || substr(max(h), 1, 15) AS BIGINT)::DOUBLE / 1152921504606846976.0), 5)
       |  END AS approx_distinct_users
       |FROM ranked WHERE r <= $k GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Deterministic Bloom-filter probe — twin of
    * Sketches.bloomBuild/bloomProbe: identical md5-derived bit
    * positions, 64-bit word packing via bit_or, all-k-bits-set test.
    */
  def bloomDedup(f: Double, mBits: Long, k: Int): String =
    s"""WITH pos_tr AS (
       |  SELECT (cast('0x' || substr(md5('bloom' || i || '|' || text), 1, 15) AS BIGINT) % $mBits) AS pos
       |  FROM documents, range(0, $k) r(i)
       |  WHERE NOT (${hashUniformSql("split")} < $f)),
       |words AS (SELECT pos // 63 AS word_idx,
       |  bit_or(1::BIGINT << (pos % 63)::INT) AS bits
       |  FROM pos_tr GROUP BY 1),
       |probe AS (
       |  SELECT doc_id, pos // 63 AS word_idx, 1::BIGINT << (pos % 63)::INT AS b
       |  FROM (SELECT doc_id,
       |    (cast('0x' || substr(md5('bloom' || i || '|' || text), 1, 15) AS BIGINT) % $mBits) AS pos
       |    FROM documents, range(0, $k) r(i)
       |    WHERE ${hashUniformSql("split")} < $f))
       |SELECT doc_id, (count(*) FILTER (WHERE bits & b = b) = $k) AS maybe_seen
       |FROM probe LEFT JOIN words USING (word_idx)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Count-min-sketch point estimates — twin of
    * Sketches.cmsDailyCounts + cmsEstimate. Summing the per-day
    * counters per (r, bucket) is arithmetically identical to counting
    * all rows per (r, bucket), which is what this twin does directly.
    */
  def cmsRollup(depth: Int, width: Int, probeMax: Long): String =
    s"""WITH counters AS (
       |  SELECT i AS r,
       |    (cast('0x' || substr(md5('cms' || i || '|' || user_id), 1, 15) AS BIGINT) % $width) AS bucket,
       |    count(*)::BIGINT AS c
       |  FROM events, range(0, $depth) r(i) GROUP BY 1, 2),
       |pb AS (
       |  SELECT user_id, i AS r,
       |    (cast('0x' || substr(md5('cms' || i || '|' || user_id), 1, 15) AS BIGINT) % $width) AS bucket
       |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < $probeMax),
       |    range(0, $depth) r(i))
       |SELECT user_id, min(coalesce(c, 0))::BIGINT AS est_count
       |FROM pb LEFT JOIN counters USING (r, bucket)
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Unigram-LM cross-entropy — twin of TextStats.lmCrossEntropy:
    * identical corpus unigram counts, per-token −ln p(t) quantized to
    * DECIMAL(18,9) (ln differs ≤1 ulp between engines, far inside the
    * quantum), decimal sum, exact HALF-UP 5-decimal mean; zero-token
    * docs surface with n_tokens=0, score 0.
    */
  val lmCrossEntropy: String =
    s"""WITH $toksCte, $uniCte,
       |cnt AS (SELECT g AS token, count(*)::BIGINT AS c FROM uni GROUP BY g),
       |tot AS (SELECT sum(c)::BIGINT AS n_total FROM cnt),
       |lp AS (SELECT token,
       |  round(-ln(c::DOUBLE / n_total::DOUBLE), 9)::DECIMAL(18,9) AS nlp
       |  FROM cnt CROSS JOIN tot),
       |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  ${decAvg5Sql("nlp")} AS ce
       |  FROM uni JOIN lp ON uni.g = lp.token GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(per.ce, 0.0) AS cross_entropy
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Min-K% prob memorization audit — twin of TextStats.minKProb:
    * the [[lmCrossEntropy]] nlp relation, the (doc, term) count grid,
    * (nlp desc, token)-ordered cumulative selection of the m
    * highest-NLL occurrences (straddling term takes its remainder),
    * weighted HALF-UP integer mean over m.
    */
  def minKProb(kPct: Int): String =
    s"""WITH $toksCte, $uniCte,
       |cnt AS (SELECT g AS token, count(*)::BIGINT AS c FROM uni GROUP BY g),
       |tot AS (SELECT sum(c)::BIGINT AS n_total FROM cnt),
       |lp AS (SELECT token,
       |  round(-ln(c::DOUBLE / n_total::DOUBLE), 9)::DECIMAL(18,9) AS nlp
       |  FROM cnt CROSS JOIN tot),
       |grid AS (SELECT doc_id, g AS token, count(*)::BIGINT AS c
       |  FROM uni GROUP BY doc_id, g),
       |g2 AS (SELECT grid.doc_id, grid.token, grid.c, lp.nlp
       |  FROM grid JOIN lp ON grid.token = lp.token),
       |g3 AS (SELECT *, sum(c) OVER (PARTITION BY doc_id) AS n,
       |  sum(c) OVER (PARTITION BY doc_id ORDER BY nlp DESC, token
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM g2),
       |g4 AS (SELECT *, greatest(1, (n * $kPct) // 100) AS m FROM g3),
       |g5 AS (SELECT doc_id, n, m,
       |  (CASE WHEN cum <= m THEN c
       |        WHEN cum - c < m THEN m - cum + c
       |        ELSE 0 END)::DECIMAL(10,0) * nlp AS wq FROM g4),
       |per AS (SELECT doc_id, max(n)::BIGINT AS n_tokens,
       |  max(m)::BIGINT AS n_scored,
       |  floor((cast(sum(wq) * 1000000000 AS BIGINT) * 2
       |      + max(m) * 10000)::DOUBLE
       |    / (max(m) * 10000 * 2)::DOUBLE) / 100000.0 AS min_k_nll
       |  FROM g5 GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(per.n_scored, 0)::BIGINT AS n_scored,
       |  coalesce(per.min_k_nll, 0.0) AS min_k_nll
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity buckets — twin of
    * Curation.perplexityBuckets: the [[lmCrossEntropy]] chain, then
    * per-language EXACT tercile cutoffs via the shared
    * value-counts + cumsum + interpolation machinery
    * ([[quantilePicksSql]]/[[quantileProjSql]]), then the bucket CASE
    * over the 5-decimal scores.
    */
  def pplBuckets: String = {
    val ps = Seq(("p33", 1.0 / 3), ("p66", 2.0 / 3))
    val picks = quantilePicksSql(ps)
    val proj = quantileProjSql(ps)
    s"""WITH $toksCte, $uniCte,
       |cnt AS (SELECT g AS token, count(*)::BIGINT AS c FROM uni GROUP BY g),
       |tot AS (SELECT sum(c)::BIGINT AS n_total FROM cnt),
       |lp AS (SELECT token,
       |  round(-ln(c::DOUBLE / n_total::DOUBLE), 9)::DECIMAL(18,9) AS nlp
       |  FROM cnt CROSS JOIN tot),
       |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  ${decAvg5Sql("nlp")} AS ce
       |  FROM uni JOIN lp ON uni.g = lp.token GROUP BY doc_id),
       |ced AS (SELECT d.doc_id, d.lang,
       |  coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(per.ce, 0.0) AS cross_entropy
       |  FROM documents d LEFT JOIN per USING (doc_id)),
       |qvc AS (SELECT lang AS g, cross_entropy AS v, count(*)::BIGINT AS cnt
       |  FROM ced WHERE n_tokens > 0 GROUP BY 1, 2),
       |qtot AS (SELECT g, sum(cnt)::BIGINT AS n FROM qvc GROUP BY g),
       |qcum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM qvc),
       |qj AS (SELECT qcum.g, v, cnt, cum, n FROM qcum JOIN qtot USING (g)),
       |qa AS (SELECT g, n, $picks FROM qj GROUP BY g, n),
       |cuts AS (SELECT g AS lang, $proj FROM qa)
       |SELECT ced.doc_id, ced.lang, n_tokens, cross_entropy,
       |  CASE WHEN n_tokens = 0 THEN 'empty'
       |       WHEN cross_entropy <= p33 THEN 'head'
       |       WHEN cross_entropy <= p66 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM ced LEFT JOIN cuts USING (lang) ORDER BY ced.doc_id""".stripMargin
  }

  /** Per-document token-distribution Shannon entropy — twin of
    * TextStats.tokenEntropy: per-term ln(n/c) quantized to
    * DECIMAL(18,9), probability-weighted mean Σ c·q / n in exact
    * integer HALF-UP arithmetic (the weighted [[decAvg5Sql]] form);
    * zero-token docs surface with zeros.
    */
  val tokenEntropy: String =
    s"""WITH $toksCte, $uniCte,
       |cnt AS (SELECT doc_id, g AS token, count(*)::BIGINT AS c
       |  FROM uni GROUP BY doc_id, g),
       |terms AS (SELECT doc_id, c,
       |  sum(c) OVER (PARTITION BY doc_id) AS n FROM cnt),
       |per AS (SELECT doc_id, max(n)::BIGINT AS n_tokens,
       |  count(*)::BIGINT AS distinct_tokens,
       |  floor((cast(sum(c * round(ln(n::DOUBLE / c::DOUBLE), 9)::DECIMAL(18,9))
       |      * 1000000000 AS BIGINT) * 2 + max(n) * 10000)::DOUBLE
       |    / (max(n) * 10000 * 2)::DOUBLE) / 100000.0 AS entropy_nats
       |  FROM terms GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(per.distinct_tokens, 0)::BIGINT AS distinct_tokens,
       |  coalesce(per.entropy_nats, 0.0) AS entropy_nats
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Per-source vocabulary growth — twin of TextStats.vocabGrowth:
    * identical (source, token) counts, hapax = count-1 terms,
    * single-division ratios rounded at 5.
    */
  val vocabGrowth: String =
    s"""WITH t2 AS (SELECT source,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |u AS (SELECT source, unnest(t) AS token FROM t2),
       |tc AS (SELECT source, token, count(*)::BIGINT AS c FROM u GROUP BY source, token),
       |v AS (SELECT source, count(*)::BIGINT AS vocab, sum(c)::BIGINT AS total,
       |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax
       |  FROM tc GROUP BY source),
       |d AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source)
       |SELECT d.source, d.n_docs,
       |  coalesce(v.total, 0)::BIGINT AS total_tokens,
       |  coalesce(v.vocab, 0)::BIGINT AS vocab_size,
       |  coalesce(v.hapax, 0)::BIGINT AS hapax_count,
       |  round(CASE WHEN coalesce(v.total, 0) > 0
       |    THEN v.vocab::DOUBLE / v.total::DOUBLE ELSE 0.0 END, 5) AS type_token_ratio,
       |  round(CASE WHEN coalesce(v.vocab, 0) > 0
       |    THEN v.hapax::DOUBLE / v.vocab::DOUBLE ELSE 0.0 END, 5) AS hapax_ratio
       |FROM d LEFT JOIN v USING (source) ORDER BY source""".stripMargin

  /** Bigram-LM cross-entropy — twin of TextStats.lm2CrossEntropy:
    * shared bigram window convention, prefix masses aggregated from
    * the bigram counts, −ln(c2/ca) quantized to DECIMAL(18,9), exact
    * HALF-UP per-doc mean; sub-2-token docs surface with zeros.
    */
  val lm2CrossEntropy: String =
    s"""WITH $toksCte,
       |bgl AS (SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 1) + 1),
       |  i -> array_to_string(t[i:i+1], ' ')) AS bgs FROM toks),
       |bgu AS (SELECT doc_id, unnest(bgs) AS g FROM bgl),
       |occ AS (SELECT doc_id, g FROM bgu WHERE contains(g, ' ')),
       |cnt2 AS (SELECT g, count(*)::BIGINT AS c2 FROM occ GROUP BY g),
       |pref AS (SELECT string_split(g, ' ')[1] AS a, sum(c2)::BIGINT AS ca
       |  FROM cnt2 GROUP BY 1),
       |lp AS (SELECT g, round(-ln(c2::DOUBLE / ca::DOUBLE), 9)::DECIMAL(18,9) AS nlp
       |  FROM cnt2 JOIN pref ON string_split(cnt2.g, ' ')[1] = pref.a),
       |per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  ${decAvg5Sql("nlp")} AS ce
       |  FROM occ JOIN lp USING (g) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(per.ce, 0.0) AS cross_entropy2
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Top-k bigram PMI — twin of TextStats.pmiBigrams: identical
    * bigram window convention, degenerate (space-free) grams excluded
    * from pairs and totals, ONE identically-shaped double expression
    * for the PMI, (pmi DESC, token_a, token_b) order.
    */
  def pmiBigrams(minCount: Long, k: Int): String =
    s"""WITH $toksCte,
       |u AS (SELECT unnest(t) AS token FROM toks),
       |cnt1 AS (SELECT token, count(*)::BIGINT AS c1 FROM u GROUP BY token),
       |bgl AS (SELECT list_transform(range(1, greatest(len(t) - 1, 1) + 1),
       |  i -> array_to_string(t[i:i+1], ' ')) AS bgs FROM toks),
       |bgu AS (SELECT unnest(bgs) AS g FROM bgl),
       |cnt2 AS (SELECT g, count(*)::BIGINT AS c2 FROM bgu
       |  WHERE contains(g, ' ') GROUP BY g),
       |nt AS (SELECT sum(c1)::BIGINT AS n FROM cnt1),
       |bt AS (SELECT sum(c2)::BIGINT AS b FROM cnt2),
       |p AS (SELECT string_split(g, ' ')[1] AS token_a,
       |  string_split(g, ' ')[2] AS token_b, c2 FROM cnt2 WHERE c2 >= $minCount)
       |SELECT token_a, token_b, c2 AS pair_count,
       |  round(ln(c2::DOUBLE * n::DOUBLE * n::DOUBLE /
       |    (b::DOUBLE * a.c1::DOUBLE * bb.c1::DOUBLE)), 5) AS pmi
       |FROM p JOIN cnt1 a ON p.token_a = a.token
       |       JOIN cnt1 bb ON p.token_b = bb.token
       |       CROSS JOIN nt CROSS JOIN bt
       |ORDER BY pmi DESC, token_a, token_b LIMIT $k""".stripMargin

  /** Per-doc TF-IDF keywords — twin of TextStats.tfidfKeywords: idf =
    * ln(N/df) quantized to DECIMAL(18,9) (ln differs ≤1 ulp, inside
    * the quantum), ranking score tf·idf₉ EXACT decimal (tf cast
    * DECIMAL(10,0) so scale 9 survives — SURVEY §8.3 rule 11), ties
    * on token asc, row_number ≤ k per doc.
    */
  def tfidfKeywords(k: Int): String =
    s"""WITH $toksCte, $uniCte,
       |tf AS (SELECT doc_id, g AS token, count(*)::BIGINT AS tf
       |  FROM uni GROUP BY doc_id, g),
       |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |scored AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       |  tf.tf::DECIMAL(10,0) *
       |    round(ln(n_docs::DOUBLE / df::DOUBLE), 9)::DECIMAL(18,9) AS score
       |  FROM tf JOIN dfreq USING (token) CROSS JOIN nd),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank FROM scored)
       |SELECT doc_id, rank::INT AS rank, token, tf, df,
       |  round(score::DOUBLE, 5) AS tfidf
       |FROM ranked WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  /** Per-user debounce roll-up — twin of Events.debounceSummary: an
    * event survives iff first of its (user, type) key or more than
    * the gap after its predecessor in (ts_us, event_id) order.
    */
  def eventsDebounce(gapSeconds: Long): String = {
    val gapUs = gapSeconds * 1000000L
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
       |l AS (SELECT user_id, ts_us, lag(ts_us) OVER
       |  (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS prev_us
       |  FROM e),
       |k AS (SELECT user_id,
       |  (prev_us IS NULL OR ts_us - prev_us > $gapUs) AS kept FROM l)
       |SELECT user_id, count(*)::BIGINT AS n_events,
       |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped
       |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Per-type daily-count linear trend — twin of Events.dailyTrend:
    * OLS over exact integer sums, one identically-shaped double
    * expression for slope and intercept.
    */
  val eventsTrend: String =
    """WITH daily AS (SELECT event_type,
      |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
      |  count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, count(*)::BIGINT AS n_days,
      |  sum(day_num)::BIGINT AS sx, sum(n)::BIGINT AS sy,
      |  sum(day_num * n)::BIGINT AS sxy,
      |  sum(day_num * day_num)::BIGINT AS sxx
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sy AS total_events,
      |  CASE WHEN n_days > 1 THEN
      |    round((n_days::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
      |      (n_days::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 5)
      |  END AS slope_per_day,
      |  CASE WHEN n_days > 1 THEN
      |    round((sy::DOUBLE -
      |      ((n_days::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
      |       (n_days::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) *
      |      sx::DOUBLE) / n_days::DOUBLE, 5)
      |  END AS intercept
      |FROM s ORDER BY event_type""".stripMargin

  /** Markov transition edges — twin of Events.eventTransitions:
    * consecutive event-type pairs per user in (ts_us, event_id)
    * order; p_next is the single integer division (safe per SURVEY
    * §8.3 rule 4).
    */
  val eventTransitions: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
      |l AS (SELECT user_id, event_type AS to_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |    AS from_type FROM e),
      |p AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM l
      |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n)::BIGINT AS n_from FROM p GROUP BY 1)
      |SELECT from_type, to_type, n,
      |  round(n::DOUBLE / n_from::DOUBLE, 5) AS p_next
      |FROM p JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin

  /** k-core by unrolled peeling — twin of Graph.kCore over the
    * co-purchase edge relation: the same fixed `rounds` peels, each
    * an alive-restricted degree count (MATERIALIZED per round — the
    * chained-CTE blowup class), then in-core degrees of the final
    * survivors.
    */
  def kCore(k: Int, rounds: Int): String = {
    def deg(rel: String): String =
      s"""(SELECT node, count(*)::BIGINT AS dg FROM (
         |    SELECT a AS node FROM $rel UNION ALL SELECT b FROM $rel) u
         |  GROUP BY node)""".stripMargin
    val peels = (2 to rounds).map { i =>
      s"""e$i AS (SELECT e.a, e.b FROM e
         |  JOIN a${i - 1} x ON e.a = x.node JOIN a${i - 1} y ON e.b = y.node),
         |a$i AS MATERIALIZED (SELECT node FROM ${deg(s"e$i")} d
         |  WHERE dg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.i AS a, y.i AS b FROM items x
       |  JOIN items y ON x.g = y.g AND x.i < y.i),
       |a1 AS MATERIALIZED (SELECT node FROM ${deg("e")} d WHERE dg >= $k),
       |$peels,
       |ef AS (SELECT e.a, e.b FROM e
       |  JOIN a$rounds x ON e.a = x.node JOIN a$rounds y ON e.b = y.node)
       |SELECT node, dg AS core_degree FROM ${deg("ef")} d
       |ORDER BY node""".stripMargin
  }

  /** Sorted-neighborhood blocking — twin of
    * Dedup.sortedNeighborhoodPairs over part names: the same
    * canonicalization/prefix block/(key, id) rank order, pairs within
    * `window` ranks (the oracle uses the inequality join the Spark
    * side avoids — oracle-side N is small), distinct-token
    * intersection features, one rounded division.
    */
  def sortedNeighborhood(window: Int, blockLen: Int): String =
    s"""WITH base AS (SELECT p_partkey AS id,
       |  trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS k
       |  FROM part),
       |r AS MATERIALIZED (SELECT id, k, substr(k, 1, $blockLen) AS blk,
       |  list_distinct(list_filter(string_split(k, ' '), x -> x <> ''))
       |    AS toks,
       |  row_number() OVER (PARTITION BY substr(k, 1, $blockLen)
       |    ORDER BY k, id) AS rn
       |  FROM base),
       |p AS (SELECT a.id AS id_a, b.id AS id_b,
       |  len(list_intersect(a.toks, b.toks))::BIGINT AS n_shared,
       |  (len(a.toks) + len(b.toks)
       |    - len(list_intersect(a.toks, b.toks)))::BIGINT AS n_union
       |  FROM r a JOIN r b ON a.blk = b.blk
       |  AND b.rn > a.rn AND b.rn <= a.rn + ${window - 1})
       |SELECT id_a, id_b, n_shared, n_union,
       |  round(n_shared::DOUBLE / n_union::DOUBLE, 5) AS jaccard
       |FROM p ORDER BY id_a, id_b""".stripMargin

  /** Compaction planner — twin of Compaction.plan over the
    * (source, lang) manifest: the same two-phase prefix sum (within-
    * source cumsum + per-source offsets), integer `//` bin
    * assignment, integer-HALF_UP fill_ratio (bin_bytes/target
    * terminates, so it lands on .5×10⁻⁵ ties — §8.3 rule 4).
    */
  def compactionPlan(targetBytes: Long): String =
    s"""WITH m AS (SELECT source, lang, sum(n_chars)::BIGINT AS fb
       |  FROM documents GROUP BY 1, 2),
       |gt AS (SELECT source, sum(fb)::BIGINT AS gtot FROM m GROUP BY 1),
       |off AS (SELECT source,
       |  coalesce(sum(gtot) OVER (ORDER BY source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |    AS o FROM gt),
       |b AS (SELECT m.fb,
       |  (off.o + coalesce(sum(m.fb) OVER (PARTITION BY m.source
       |     ORDER BY m.lang
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
       |    // $targetBytes AS bin_id
       |  FROM m JOIN off USING (source))
       |SELECT bin_id::BIGINT AS bin_id, count(*)::BIGINT AS n_files,
       |  sum(fb)::BIGINT AS bin_bytes,
       |  ((sum(fb)::BIGINT * 200000 + $targetBytes)
       |    // ${2 * targetBytes})::DOUBLE / 100000.0 AS fill_ratio
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Resource-allocation link prediction — twin of
    * Graph.linkPrediction over the co-purchase edges: the same
    * degree-capped adjacency (smallest neighbors), the same
    * round(1/deg, 9)::DECIMAL(18,9) weights summed exactly, anti-join
    * against the UNCAPPED edge list, top-k by (exact score desc,
    * ids), and the same AUTOMATIC SKEW GUARD — the effective cap is
    * the largest c ∈ [1, maxDegree] whose total candidate volume
    * Σ min(deg,c)·(min(deg,c)−1)/2 stays within `candBudget`,
    * re-derived here from the degree histogram by the identical
    * integer arithmetic (generate_series over caps × histogram;
    * Spark's binary search lands on the same max-c-within-budget),
    * with the `n_capped_nodes` audit column on every row.
    */
  def linkPrediction(k: Int, maxDegree: Int, candBudget: Long): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.i AS a, y.i AS b FROM items x
       |  JOIN items y ON x.g = y.g AND x.i < y.i),
       |und AS (SELECT a AS node, b AS nbr FROM e
       |  UNION ALL SELECT b, a FROM e),
       |dh AS MATERIALIZED (SELECT dg, count(*)::BIGINT AS n FROM (
       |  SELECT node, count(*)::BIGINT AS dg FROM und GROUP BY node)
       |  GROUP BY dg),
       |vol AS (SELECT t.c::BIGINT AS c,
       |  sum(n * (least(dg, t.c::BIGINT) * (least(dg, t.c::BIGINT) - 1)
       |    // 2))::BIGINT AS v
       |  FROM generate_series(1, $maxDegree) t(c) CROSS JOIN dh
       |  GROUP BY 1),
       |eff AS (SELECT max(c)::BIGINT AS cap FROM vol
       |  WHERE v <= $candBudget),
       |ncap AS (SELECT coalesce(sum(n) FILTER (
       |  WHERE dg > (SELECT cap FROM eff)), 0)::BIGINT AS nc FROM dh),
       |capped AS MATERIALIZED (SELECT node, nbr FROM (
       |  SELECT node, nbr,
       |    row_number() OVER (PARTITION BY node ORDER BY nbr) AS r
       |  FROM und) WHERE r <= (SELECT cap FROM eff)),
       |wz AS (SELECT node AS z,
       |  round(1.0 / count(*)::DOUBLE, 9)::DECIMAL(18,9) AS w
       |  FROM capped GROUP BY node),
       |cand AS (SELECT c1.node AS z, c1.nbr AS x, c2.nbr AS y
       |  FROM capped c1 JOIN capped c2
       |  ON c1.node = c2.node AND c1.nbr < c2.nbr),
       |sc AS (SELECT x AS id_a, y AS id_b, count(*)::BIGINT AS n_common,
       |  sum(w.w) AS s FROM cand JOIN wz w ON cand.z = w.z GROUP BY 1, 2),
       |nonedge AS (SELECT sc.* FROM sc LEFT JOIN e
       |  ON sc.id_a = e.a AND sc.id_b = e.b WHERE e.a IS NULL)
       |SELECT id_a, id_b, n_common, round(s::DOUBLE, 5) AS ra_score,
       |  (SELECT nc FROM ncap) AS n_capped_nodes
       |FROM nonedge ORDER BY s DESC, id_a, id_b LIMIT $k""".stripMargin

  /** Conditional transition entropy — twin of
    * Events.transitionEntropy: the same pair construction as
    * [[eventTransitions]], scale-9 quantized ln of the single-division
    * probability, exact decimal Σ n·llh, one final division.
    */
  val transitionEntropy: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
      |l AS (SELECT user_id, event_type AS to_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |    AS from_type FROM e),
      |p AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM l
      |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n)::BIGINT AS n_from FROM p GROUP BY 1),
      |x AS (SELECT p.from_type, t.n_from, p.n,
      |  round(ln(p.n::DOUBLE / t.n_from::DOUBLE), 9)::DECIMAL(18,9) AS llh
      |  FROM p JOIN t USING (from_type)),
      |a AS (SELECT from_type, any_value(n_from) AS n_from,
      |  count(*)::BIGINT AS n_out_types,
      |  sum(n::DECIMAL(10,0) * llh) AS s FROM x GROUP BY 1)
      |SELECT from_type, n_from::BIGINT AS n_from, n_out_types,
      |  round((-s)::DOUBLE / n_from::DOUBLE, 5) AS entropy_nats
      |FROM a ORDER BY from_type""".stripMargin

  /** Wide→long unpivot of lineitem's measure columns, rolled up per
    * metric — twin of the q_unpivot Spark unpivot + groupBy.
    */
  val unpivotLineitem: String =
    """WITH u AS (SELECT metric, val FROM (
      |  UNPIVOT lineitem ON l_quantity, l_extendedprice, l_discount, l_tax
      |  INTO NAME metric VALUE val))
      |SELECT metric, count(*)::BIGINT AS n,
      |  round(cast(sum(cast(val AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_val,
      |  min(val) AS min_val, max(val) AS max_val
      |FROM u GROUP BY metric ORDER BY metric""".stripMargin

  /** Source × language wide matrix via conditional aggregation
    * (FILTER clause ≙ Spark count(when(...))).
    */
  val langSourceMatrix: String =
    """SELECT source, count(*)::BIGINT AS n_docs,
      |  count(*) FILTER (WHERE lang = 'de')::BIGINT AS n_de,
      |  count(*) FILTER (WHERE lang = 'en')::BIGINT AS n_en,
      |  count(*) FILTER (WHERE lang = 'es')::BIGINT AS n_es,
      |  count(*) FILTER (WHERE lang = 'fr')::BIGINT AS n_fr,
      |  count(*) FILTER (WHERE lang = 'zh')::BIGINT AS n_zh,
      |  count(*) FILTER (WHERE lang NOT IN ('de','en','es','fr','zh'))::BIGINT
      |    AS n_other
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** BM25 keyword search — twin of Search.bm25: identical expression
    * trees (idf rounded at 5 decimals per term, per-term scores
    * quantized to DECIMAL(18,9), exact sum, integer HALF-AWAY final
    * rounding) with the double constants interpolated from the same
    * Scala values (`Double.toString` round-trips; DuckDB parses to
    * the identical nearest double).
    */
  def bm25(queryTerms: Seq[String], k: Int, k1: Double, b: Double): String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH $toksCte, $uniCte,
       |lens AS (SELECT doc_id, len(t)::BIGINT AS len FROM toks),
       |consts AS (SELECT count(*)::BIGINT AS n,
       |  sum(len::DECIMAL(18,6))::DOUBLE / count(*) AS avglen FROM lens),
       |tf AS (SELECT doc_id, g AS token, count(*)::BIGINT AS tf
       |  FROM uni WHERE g IN ($terms) GROUP BY doc_id, g),
       |idf AS (SELECT token,
       |  round(ln((n - df + 0.5) / (df + 0.5) + 1.0), 5) AS idf
       |  FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token), consts),
       |s AS (SELECT tf.doc_id,
       |  (idf.idf * (tf.tf::DOUBLE * ${k1 + 1}) / (tf.tf::DOUBLE +
       |    $k1 * (${1 - b} + $b * (lens.len::DOUBLE / consts.avglen))))::DECIMAL(18,9) AS s
       |  FROM tf JOIN idf USING (token) JOIN lens USING (doc_id), consts),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       |  (sum(s) * 1000000000)::BIGINT AS su FROM s GROUP BY doc_id)
       |SELECT doc_id, n_terms_matched,
       |  CASE WHEN su < 0 THEN -1.0 ELSE 1.0 END *
       |    floor((abs(su) * 2 + 10000)::DOUBLE / 20000.0) / 100000.0 AS score
       |FROM agg
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** RM1 pseudo-relevance-feedback expansion — twin of
    * Search.prfExpand: the BM25 twin verbatim as the feedback stage
    * (nested WITH), then per-term Σ round(tf/len, 9) over the
    * feedback docs' tokens (query terms excluded) with the su
    * HALF-UP rendering.
    */
  def prfExpand(queryTerms: Seq[String], fbDocs: Int, fbTerms: Int,
      k1: Double, b: Double): String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH fb AS (${bm25(queryTerms, fbDocs, k1, b)}),
       |$toksCte, $uniCte,
       |lens AS (SELECT doc_id, len(t)::BIGINT AS len
       |  FROM toks JOIN fb USING (doc_id)),
       |ft AS (SELECT uni.doc_id, uni.g AS token, count(*)::BIGINT AS tf
       |  FROM uni JOIN fb ON uni.doc_id = fb.doc_id
       |  WHERE uni.g NOT IN ($terms) GROUP BY 1, 2),
       |w AS (SELECT token, count(*)::BIGINT AS n_fb_docs,
       |  (sum(round(tf::DOUBLE / len::DOUBLE, 9)::DECIMAL(18,9))
       |    * 1000000000)::BIGINT AS su
       |  FROM ft JOIN lens USING (doc_id) GROUP BY token)
       |SELECT token, n_fb_docs,
       |  floor((su * 2 + 10000)::DOUBLE / 20000.0) / 100000.0 AS weight
       |FROM w ORDER BY weight DESC, token LIMIT $fbTerms""".stripMargin
  }

  /** Hybrid retrieval — twin of Search.hybridRerank: the BM25 twin
    * verbatim as the candidate stage (nested WITH), the shared
    * normalize/dot CTEs for the rerank stage.
    */
  def hybridRerank(queryTerms: Seq[String], queryVecId: Long,
      candidateK: Int, k: Int, k1: Double, b: Double): String =
    s"""WITH cand AS (${bm25(queryTerms, candidateK, k1, b)}),
       |$normCte,
       |q AS (SELECT nv FROM n WHERE vec_id = $queryVecId),
       |scored AS (SELECT cand.doc_id, cand.score AS bm25_score,
       |  ${dotSql("c.nv", "q.nv")} AS cosine
       |  FROM cand JOIN n c ON c.vec_id = cand.doc_id CROSS JOIN q),
       |ranked AS (SELECT *, row_number() OVER
       |  (ORDER BY cosine DESC, doc_id) AS rank FROM scored)
       |SELECT doc_id, bm25_score, cosine, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Exact top-k corpus tokens — twin of TextStats.topTokens. */
  /** Dataset-card corpus report — twin of q_corpus_report: scalar
    * aggregates unioned into the same long relation (metric, value),
    * the average in the shared exact HALF-UP form.
    */
  val corpusReport: String =
    s"""WITH p AS (SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS nt,
       |  n_chars, source, lang, md5(text) AS h FROM documents),
       |b AS (SELECT count(*)::DOUBLE AS n_docs,
       |  sum(nt)::DOUBLE AS total_tokens,
       |  sum(n_chars)::DOUBLE AS total_chars,
       |  ${decAvg5Sql("nt")} AS avg_tokens,
       |  count(*)::BIGINT AS nn, count(DISTINCT h)::BIGINT AS nc,
       |  count(DISTINCT source)::DOUBLE AS n_sources,
       |  count(DISTINCT lang)::DOUBLE AS n_langs FROM p)
       |SELECT metric, value FROM (
       |  SELECT 'avg_tokens' AS metric, avg_tokens AS value FROM b
       |  UNION ALL SELECT 'dup_docs', (nn - nc)::DOUBLE FROM b
       |  UNION ALL SELECT 'n_docs', n_docs FROM b
       |  UNION ALL SELECT 'n_langs', n_langs FROM b
       |  UNION ALL SELECT 'n_sources', n_sources FROM b
       |  UNION ALL SELECT 'total_chars', total_chars FROM b
       |  UNION ALL SELECT 'total_tokens', total_tokens FROM b)
       |ORDER BY metric""".stripMargin

  /** Stopword candidates — twin of TextStats.topDocFreqTokens:
    * DOCUMENT frequency over per-doc distinct tokens, (df DESC,
    * token) order, single safe integer division for the fraction.
    */
  def topDocFreqTokens(k: Int): String =
    s"""WITH tk AS (SELECT DISTINCT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
       |SELECT token, count(*)::BIGINT AS doc_freq,
       |  round(count(*)::DOUBLE / n_docs::DOUBLE, 5) AS df_fraction
       |FROM tk CROSS JOIN nd GROUP BY token, n_docs
       |ORDER BY doc_freq DESC, token LIMIT $k""".stripMargin

  def topTokens(k: Int): String =
    s"""WITH tk AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents)
       |SELECT token, count(*)::BIGINT AS n_occurrences FROM tk
       |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT $k""".stripMargin

  /** Context-length chunking — twin of Packing.chunkDocuments: same
    * start grid (0, stride, … while start < n, one empty chunk for an
    * empty doc) and the same 1-based inclusive token slicing.
    */
  def chunkDocs(maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH $toksCte,
       |n AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM toks),
       |c AS (SELECT doc_id, t, n, unnest(range(0,
       |  CASE WHEN n > 0 THEN (n - 1) // $stride + 1 ELSE 1 END)) AS ci FROM n)
       |SELECT doc_id, ci::INT AS chunk_index,
       |  array_to_string(t[(ci * $stride + 1):(ci * $stride + $maxTokens)], ' ') AS chunk_text,
       |  len(t[(ci * $stride + 1):(ci * $stride + $maxTokens)])::BIGINT AS n_chunk_tokens
       |FROM c ORDER BY doc_id, chunk_index""".stripMargin
  }

  /** Sequence packing — twin of Packing.packSequences. The oracle
    * computes the SINGLE-WINDOW global cumsum; the Spark side's
    * two-phase sharded prefix sum must be bit-identical (integer
    * arithmetic throughout).
    */
  def packSequences(budget: Long): String =
    s"""WITH $toksCte,
       |c AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
       |  (sum(len(t)) OVER (ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(t))::BIGINT AS s
       |  FROM toks)
       |SELECT doc_id, n_tokens, (s // $budget)::BIGINT AS pack_id,
       |  (s % $budget)::BIGINT AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** Curation verdict — twin of Curation.curate: near-dup
    * survivorship (the dedupClusters transitive closure) > length
    * gate > quality gate (the textDocStats quality expression),
    * first match wins. Thresholds single-sourced from Curation.
    */
  /** MinHash-pair connected components (recursive transitive closure,
    * min reachable id) + the per-doc quality CTE — the shared head of
    * [[curate]] and [[curateFull]]. Requires `mh` (from
    * [[minHashPairsCtes]]) and `toks` upstream.
    */
  private val curationHeadCtes =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM mh
       |  UNION ALL SELECT id_b, id_a FROM mh),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
       |q AS (SELECT d.doc_id, len(t)::BIGINT AS n_tokens,
       |  $qualityScoreSql AS quality_score
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id)""".stripMargin

  val curate: String = {
    val minTokens = graft.ext.Curation.DefaultMinTokens
    val minQuality = graft.ext.Curation.DefaultMinQuality
    s"""WITH RECURSIVE $minHashPairsCtes,
       |$curationHeadCtes,
       |r AS (SELECT q.doc_id, n_tokens, quality_score,
       |  CASE WHEN cc.id <> cc.cluster_id THEN 'near_duplicate'
       |       WHEN n_tokens < $minTokens THEN 'too_short'
       |       WHEN quality_score < $minQuality THEN 'low_quality' END AS reject_reason
       |  FROM q JOIN cc ON q.doc_id = cc.id)
       |SELECT doc_id, n_tokens, quality_score,
       |  (reject_reason IS NULL) AS keep, reject_reason
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Full-pipeline curation verdict — twin of Curation.curateFull:
    * the [[curate]] chain (MinHash CC + quality) extended with the
    * [[textRepetition]] and [[vocabCoverage]] signal CTEs, same
    * priority CASE. All thresholds single-sourced from Curation.
    */
  /** The full-pipeline verdict CTE chain (ends in `r(doc_id, …,
    * reject_reason)`) — shared by [[curateFull]] and
    * [[curationFunnel]] so the two cannot drift.
    */
  private def curationVerdictCtes: String = {
    val minTokens = graft.ext.Curation.DefaultMinTokens
    val minQuality = graft.ext.Curation.DefaultMinQuality
    val maxBigramFrac = graft.ext.Curation.DefaultMaxBigramFrac
    val minDistinctRatio = graft.ext.Curation.DefaultMinDistinctRatio
    val maxOovRate = graft.ext.Curation.DefaultMaxOovRate
    val vocabSize = graft.ext.Curation.DefaultVocabSize
    s"""$minHashPairsCtes, $uniCte,
       |$curationHeadCtes,
       |$repetitionCtes,
       |${vocabCtes(vocabSize)},
       |r AS (SELECT q.doc_id, q.n_tokens, q.quality_score,
       |  repx.top_bigram_frac, oovx.oov_rate,
       |  CASE WHEN cc.id <> cc.cluster_id THEN 'near_duplicate'
       |       WHEN q.n_tokens < $minTokens THEN 'too_short'
       |       WHEN q.quality_score < $minQuality THEN 'low_quality'
       |       WHEN repx.top_bigram_frac > $maxBigramFrac
       |         OR repx.distinct_token_ratio < $minDistinctRatio THEN 'repetitive'
       |       WHEN oovx.oov_rate > $maxOovRate THEN 'high_oov' END AS reject_reason
       |  FROM q JOIN cc ON q.doc_id = cc.id
       |  JOIN repx ON q.doc_id = repx.doc_id
       |  JOIN oovx ON q.doc_id = oovx.doc_id)""".stripMargin
  }

  val curateFull: String =
    s"""WITH RECURSIVE $curationVerdictCtes
       |SELECT doc_id, n_tokens, quality_score, top_bigram_frac, oov_rate,
       |  (reject_reason IS NULL) AS keep, reject_reason
       |FROM r ORDER BY doc_id""".stripMargin

  /** Gate-by-gate survivor funnel — twin of Curation.funnelReport:
    * reject_reason is the FIRST failing gate, so survivors after
    * gate i = n_docs − Σ drops of gates ≤ i.
    */
  /** Per-source verdict breakdown — twin of
    * Curation.verdictBreakdown over the shared verdict chain.
    */
  val curationBySource: String =
    s"""WITH RECURSIVE $curationVerdictCtes
       |SELECT d.source, coalesce(r.reject_reason, 'kept') AS verdict,
       |  count(*)::BIGINT AS n_docs
       |FROM r JOIN documents d USING (doc_id)
       |GROUP BY 1, 2 ORDER BY source, verdict""".stripMargin

  val curationFunnel: String =
    s"""WITH RECURSIVE $curationVerdictCtes,
       |drops AS (SELECT reject_reason AS stage, count(*)::BIGINT AS nd
       |  FROM r WHERE reject_reason IS NOT NULL GROUP BY 1),
       |stages(stage_idx, stage) AS (VALUES (0, 'input'),
       |  (1, 'near_duplicate'), (2, 'too_short'), (3, 'low_quality'),
       |  (4, 'repetitive'), (5, 'high_oov')),
       |tot AS (SELECT count(*)::BIGINT AS n_docs FROM r),
       |d AS (SELECT s.stage_idx, s.stage,
       |  CASE WHEN s.stage_idx = 0 THEN 0 ELSE coalesce(drops.nd, 0) END AS n_dropped
       |  FROM stages s LEFT JOIN drops USING (stage))
       |SELECT d.stage_idx::INT AS stage_idx, d.stage,
       |  d.n_dropped::BIGINT AS n_dropped,
       |  (tot.n_docs - sum(d.n_dropped) OVER (ORDER BY d.stage_idx))::BIGINT
       |    AS n_remaining
       |FROM d CROSS JOIN tot ORDER BY stage_idx""".stripMargin

  /** Binary-asset metadata — twin of the q_multimodal_meta pipeline
    * (Multimodal.assetTable + withChecksums + chunk counts). The
    * document text is ASCII, so char ops on `text` equal byte ops on
    * the UTF-8 payload.
    */
  val multimodalMeta: String =
    """SELECT doc_id AS asset_id,
      |  ['image', 'audio', 'video'][cast(doc_id % 3 AS INT) + 1] AS kind,
      |  length(text)::BIGINT AS byte_len,
      |  md5(text) AS checksum,
      |  source AS origin,
      |  n_chars::BIGINT AS declared_bytes,
      |  cast(doc_id % 1920 + 1 AS INT) AS width,
      |  cast(doc_id % 1080 + 1 AS INT) AS height,
      |  cast(ceil(length(text) / 64.0) AS INT) AS n_chunks,
      |  cast((cast(ceil(length(text) / 64.0) AS BIGINT) + 1) // 2 AS INT) AS n_sampled,
      |  md5(substr(text, 1, 64)) AS head_chunk_md5
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Chunk-level CAS dedup — twin of Multimodal.chunkDedup: the
    * asset payload is UTF-8 text (pure ASCII in the fixtures), so
    * byte chunks mirror as character slices; one digest-keyed
    * aggregate, duplicated chunks only.
    */
  def chunkDedup(chunkSize: Int): String =
    s"""WITH ch AS (SELECT doc_id AS asset_id,
       |  unnest(list_transform(range(1,
       |    cast(ceil(length(text) / ${chunkSize}.0) AS BIGINT) + 1),
       |    i -> text[((i - 1) * $chunkSize + 1):((i - 1) * $chunkSize + $chunkSize)]))
       |    AS c
       |  FROM documents)
       |SELECT md5(c) AS chunk_md5, count(*)::BIGINT AS n_copies,
       |  count(DISTINCT asset_id)::BIGINT AS n_assets,
       |  min(asset_id)::BIGINT AS keep_asset_id,
       |  min(length(c))::BIGINT AS chunk_bytes
       |FROM ch GROUP BY 1 HAVING count(*) >= 2 ORDER BY chunk_md5""".stripMargin

  /** Hourly tumbling windows — twin of Events.tumblingHourlyExact. */
  val eventsHourly: String =
    """SELECT cast(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
      |  count(*)::BIGINT AS n_events,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user session summary, 30-minute gap — twin of
    * Events.sessionSummary. All time arithmetic in whole microseconds.
    */
  val eventsSessions: String =
    """WITH e AS (SELECT user_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
      |l AS (SELECT user_id, ts_us,
      |  lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_us FROM e),
      |b AS (SELECT user_id, ts_us,
      |  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_break FROM l),
      |s AS (SELECT user_id, ts_us, sum(is_break) OVER
      |  (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b),
      |sess AS (SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
      |  round((max(ts_us) - min(ts_us)) / 1000000.0, 5) AS session_secs
      |  FROM s GROUP BY user_id, session_seq)
      |SELECT user_id, count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS total_events,
      |  REPLACED_AVG AS avg_session_secs
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin
      .replace("REPLACED_AVG", decAvg5Sql("session_secs"))

  /** Exact per-group quantiles — twin of ext.Quantiles.groupQuantiles
    * over events.value per event_type. Deliberately NOT quantile_cont:
    * the SQL spells out the identical value-counts + cumsum +
    * Percentile-interpolation expression tree the Spark operator
    * evaluates, so both engines run the same IEEE arithmetic (note
    * the ::DOUBLE on each p — DuckDB numeric literals default to
    * DECIMAL, which would change the multiply).
    */
  private def quantilePos(p: Double) = s"${p}::DOUBLE * (n - 1)"

  /** Rank-pick aggregates over a (g..., v, cnt, cum, n) relation —
    * shared by every exact-quantile twin. */
  private def quantilePicksSql(ps: Seq[(String, Double)]): String = {
    def pos(p: Double) = quantilePos(p)
    ps.flatMap { case (name, p) =>
      Seq(
        s"max(CASE WHEN cum - cnt <= floor(${pos(p)}) AND floor(${pos(p)}) <= cum - 1 THEN v END) AS lo_$name",
        s"max(CASE WHEN cum - cnt <= ceil(${pos(p)}) AND ceil(${pos(p)}) <= cum - 1 THEN v END) AS hi_$name")
    }.mkString(", ")
  }

  /** Percentile-exact interpolation projections from the picks —
    * with the magnitude-gated display rounding of
    * Quantiles.quantilesFromVc (round-at-5 is engine-divergent once
    * ulp approaches the 10⁻⁵ grid; the raw interpolated double is
    * bit-identical cross-engine, so huge values pass unrounded).
    */
  private def quantileProjSql(ps: Seq[(String, Double)]): String = {
    def pos(p: Double) = quantilePos(p)
    ps.map { case (name, p) =>
      val raw =
        s"""CASE WHEN floor(${pos(p)}) = ceil(${pos(p)}) THEN lo_$name
           |    ELSE lo_$name * (ceil(${pos(p)}) - ${pos(p)}) + hi_$name * (${pos(p)} - floor(${pos(p)})) END""".stripMargin
      s"""CASE WHEN abs($raw) < 1000000000.0 THEN round($raw, 5)
         |    ELSE $raw END AS $name""".stripMargin
    }.mkString(", ")
  }

  private def groupQuantileCtes(ps: Seq[(String, Double)]): (String, String) = {
    val picks = quantilePicksSql(ps)
    val qs = quantileProjSql(ps)
    val ctes =
      s"""vc AS (SELECT event_type AS g, value AS v, count(*)::BIGINT AS cnt
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc GROUP BY g),
         |cum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
         |j AS (SELECT cum.g, v, cnt, cum, n FROM cum JOIN tot USING (g)),
         |a AS (SELECT g, n, $picks FROM j GROUP BY g, n)""".stripMargin
    (ctes, qs)
  }

  def groupQuantiles(ps: Seq[(String, Double)]): String = {
    val (ctes, qs) = groupQuantileCtes(ps)
    s"""WITH $ctes
       |SELECT g AS event_type, n, $qs FROM a ORDER BY event_type""".stripMargin
  }

  /** Token-weighted doc-length quantiles — twin of
    * Quantiles.groupQuantilesWeighted over documents: identical
    * value-counts machinery with per-row weights summed where counts
    * counted; identical interpolation expression tree.
    */
  def weightedQuantiles(ps: Seq[(String, Double)]): String = {
    val picks = quantilePicksSql(ps)
    val qs = quantileProjSql(ps)
    s"""WITH w AS (SELECT lang, n_chars::DOUBLE AS v,
       |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS wt
       |  FROM documents),
       |vc AS (SELECT lang AS g, v, sum(wt)::BIGINT AS cnt FROM w
       |  WHERE wt > 0 GROUP BY 1, 2),
       |tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc GROUP BY g),
       |cum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
       |j AS (SELECT cum.g, v, cnt, cum, n FROM cum JOIN tot USING (g)),
       |a AS (SELECT g, n, $picks FROM j GROUP BY g, n)
       |SELECT g AS lang, n, $qs FROM a ORDER BY lang""".stripMargin
  }

  /** Tukey-fence outlier report — twin of Quantiles.tukeyOutliers:
    * identical exact q1/q3 (shared quantile CTEs), identical IEEE
    * fence arithmetic on the 5-decimal-rounded quantiles.
    */
  def tukeyOutliers(k: Double): String = {
    val (ctes, qs) = groupQuantileCtes(Seq("__q1" -> 0.25, "__q3" -> 0.75))
    s"""WITH $ctes,
       |b AS (SELECT g AS event_type, $qs FROM a)
       |SELECT e.event_type, count(*)::BIGINT AS n,
       |  min(__q1) AS q1, min(__q3) AS q3,
       |  sum(CASE WHEN value < __q1 - $k * (__q3 - __q1) THEN 1 ELSE 0 END)::BIGINT AS n_low,
       |  sum(CASE WHEN value > __q3 + $k * (__q3 - __q1) THEN 1 ELSE 0 END)::BIGINT AS n_high,
       |  round((sum(CASE WHEN value < __q1 - $k * (__q3 - __q1) THEN 1 ELSE 0 END) +
       |    sum(CASE WHEN value > __q3 + $k * (__q3 - __q1) THEN 1 ELSE 0 END))::DOUBLE
       |    / count(*)::DOUBLE, 5) AS outlier_frac
       |FROM events e JOIN b USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Inter-arrival gap quantiles — twin of Events.interArrivalStats:
    * per-(user, type) lag gaps in the (ts, event_id) tie order, then
    * the shared exact-quantile machinery per type.
    */
  def interArrival(ps: Seq[(String, Double)]): String = {
    val picks = quantilePicksSql(ps)
    val proj = quantileProjSql(ps)
    s"""WITH gg AS (SELECT event_type,
       |  epoch_us(ts) - lag(epoch_us(ts)) OVER
       |    (PARTITION BY user_id, event_type
       |     ORDER BY epoch_us(ts), event_id) AS gap
       |  FROM events WHERE ts IS NOT NULL),
       |vc AS (SELECT event_type AS g, gap::DOUBLE AS v, count(*)::BIGINT AS cnt
       |  FROM gg WHERE gap IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc GROUP BY g),
       |cum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
       |j AS (SELECT cum.g, v, cnt, cum, n FROM cum JOIN tot USING (g)),
       |a AS (SELECT g, n, $picks FROM j GROUP BY g, n)
       |SELECT g AS event_type, n, $proj FROM a ORDER BY event_type""".stripMargin
  }

  /** Time-decayed per-user value sum — twin of Events.decayedSum:
    * identical one-pow-per-event factor (quantized DECIMAL(18,9)),
    * exact decimal product and sum, same future-event exclusion.
    */
  def decayedSum(refUs: Long, halfLifeDays: Double): String =
    s"""SELECT user_id, count(*)::BIGINT AS n_events,
       |  round(cast(sum(cast(value AS DECIMAL(18,6)) *
       |    round(pow(2.0, (($refUs - epoch_us(ts))::DOUBLE / 86400000000.0)
       |      * -1.0 / $halfLifeDays), 9)::DECIMAL(18,9)) AS DOUBLE), 5)
       |    AS decayed_sum
       |FROM events
       |WHERE ts IS NOT NULL AND value IS NOT NULL AND epoch_us(ts) <= $refUs
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** MAD robust outliers — twin of Quantiles.madOutliers: the shared
    * quantile machinery twice (value median, then deviation median
    * over the 5-decimal-rounded |x − med|), then the modified-z-score
    * cutoff k·1.4826·MAD as one identically-shaped double product.
    */
  def madOutliers(k: Double): String = {
    val picks1 = quantilePicksSql(Seq("__med" -> 0.5))
    val proj1 = quantileProjSql(Seq("__med" -> 0.5))
    val picks2 = quantilePicksSql(Seq("__mad" -> 0.5))
    val proj2 = quantileProjSql(Seq("__mad" -> 0.5))
    s"""WITH vc AS (SELECT event_type AS g, value AS v, count(*)::BIGINT AS cnt
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc GROUP BY g),
       |cum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
       |j AS (SELECT cum.g, v, cnt, cum, n FROM cum JOIN tot USING (g)),
       |a AS (SELECT g, n, $picks1 FROM j GROUP BY g, n),
       |medb AS (SELECT g AS event_type, $proj1 FROM a),
       |dev AS (SELECT e.event_type, round(abs(value - __med), 5) AS dv, __med
       |  FROM events e JOIN medb USING (event_type)),
       |dvc AS (SELECT event_type AS g, dv AS v, count(*)::BIGINT AS cnt
       |  FROM dev WHERE dv IS NOT NULL GROUP BY 1, 2),
       |dtot AS (SELECT g, sum(cnt)::BIGINT AS n FROM dvc GROUP BY g),
       |dcum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM dvc),
       |dj AS (SELECT dcum.g, v, cnt, cum, n FROM dcum JOIN dtot USING (g)),
       |da AS (SELECT g, n, $picks2 FROM dj GROUP BY g, n),
       |madb AS (SELECT g AS event_type, $proj2 FROM da)
       |SELECT d.event_type, count(*)::BIGINT AS n,
       |  min(__med) AS median, min(__mad) AS mad,
       |  sum(CASE WHEN dv > $k * 1.4826 * __mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       |  round(sum(CASE WHEN dv > $k * 1.4826 * __mad THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE, 5) AS outlier_frac
       |FROM dev d JOIN madb USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Equi-depth histogram — twin of Quantiles.equiDepthHistogram:
    * identical exact i/k boundaries (shared quantile CTEs), identical
    * strictly-greater bucket rule against the 5-decimal-rounded
    * boundary values.
    */
  def equiDepthHistogram(k: Int): String = {
    val ps = (1 until k).map(i => (s"__b$i", i.toDouble / k))
    val (ctes, qs) = groupQuantileCtes(ps)
    val bucket = ps.map { case (name, _) =>
      s"(CASE WHEN value > $name THEN 1 ELSE 0 END)" }.mkString(" + ")
    s"""WITH $ctes,
       |b AS (SELECT g AS event_type, $qs FROM a)
       |SELECT e.event_type, ($bucket) AS bucket,
       |  count(*)::BIGINT AS n_rows,
       |  round(min(value), 5) AS lo, round(max(value), 5) AS hi
       |FROM events e JOIN b USING (event_type)
       |WHERE value IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Heavy-hitter skew report — twin of Skew.skewReport. */
  def skewReport(topK: Int): String =
    s"""WITH c AS (SELECT event_type AS key, count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1),
       |s AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS n_keys FROM c),
       |t AS (SELECT key, cnt,
       |  round(cnt::DOUBLE / total::DOUBLE, 5) AS share,
       |  cast(ceil(cnt::DOUBLE * n_keys::DOUBLE / total::DOUBLE) AS BIGINT) AS salt_factor
       |  FROM c, s ORDER BY cnt DESC, key LIMIT $topK)
       |SELECT * FROM t ORDER BY key""".stripMargin

  /** Weekly exact-quantile rollup from per-day value counts — twin of
    * Sketches.dailyValueCounts + rollupQuantiles. The daily CTE is
    * the mergeable relation; weekly counts are its per-bucket SUM,
    * and the quantile machinery (cumsum + rank picks + interpolation)
    * is identical to [[groupQuantiles]] over the merged counts.
    */
  def quantileRollup(ps: Seq[(String, Double)], daysPerBucket: Long): String = {
    val picks = quantilePicksSql(ps)
    val qs = quantileProjSql(ps)
    s"""WITH daily AS (SELECT event_type,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |  value AS v, count(*)::BIGINT AS cnt
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
       |vc AS (SELECT event_type, day_num // $daysPerBucket AS bucket_num, v,
       |  sum(cnt)::BIGINT AS cnt FROM daily GROUP BY 1, 2, 3),
       |tot AS (SELECT event_type, bucket_num, sum(cnt)::BIGINT AS n
       |  FROM vc GROUP BY 1, 2),
       |cum AS (SELECT event_type, bucket_num, v, cnt,
       |  sum(cnt) OVER (PARTITION BY event_type, bucket_num ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
       |j AS (SELECT cum.event_type, cum.bucket_num, v, cnt, cum, n
       |  FROM cum JOIN tot USING (event_type, bucket_num)),
       |a AS (SELECT event_type, bucket_num, n, $picks
       |  FROM j GROUP BY event_type, bucket_num, n)
       |SELECT event_type, bucket_num, n, $qs FROM a
       |ORDER BY event_type, bucket_num""".stripMargin
  }

  /** Winsorized per-type roll-up — twin of Quantiles.winsorize +
    * aggregation: bounds are the same 5-decimal-rounded exact
    * quantiles (shared CTE block), clipping is least/greatest.
    */
  def winsorize(pLo: Double, pHi: Double): String = {
    val (ctes, qs) = groupQuantileCtes(Seq("__lo" -> pLo, "__hi" -> pHi))
    s"""WITH $ctes,
       |b AS (SELECT g AS event_type, $qs FROM a)
       |SELECT e.event_type, count(*)::BIGINT AS n,
       |  sum(CASE WHEN value < __lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
       |  sum(CASE WHEN value > __hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
       |  round(cast(sum(cast(least(greatest(value, __lo), __hi) AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_clipped
       |FROM events e JOIN b USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Weighted-dim equi-join roll-up — twin of the q_skew_join plan
    * (Skew.saltedJoin is an equi-key refinement, so the oracle is the
    * PLAIN join: identical results is exactly the property under
    * test).
    */
  def skewJoin(weights: Seq[(String, Double)]): String = {
    val values = weights.map { case (k, w) => s"('$k', ${w}::DOUBLE)" }.mkString(", ")
    s"""WITH dim(event_type, weight) AS (SELECT * FROM (VALUES $values))
       |SELECT e.event_type, count(*) AS n_events,
       |  round(cast(sum(cast(value * weight AS DECIMAL(18,6))) AS DOUBLE), 5) AS weighted_value
       |FROM events e JOIN dim USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Trailing rolling daily totals — twin of Events.rollingDaily:
    * same epoch-day integer RANGE frame, same decimal accumulation.
    */
  def eventsRolling(windowDays: Int): String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |    count(*)::BIGINT AS n_events,
       |    sum(cast(value AS DECIMAL(18,6))) AS sum_dec
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, day_num, n_events,
       |  round(cast(sum_dec AS DOUBLE), 5) AS sum_value,
       |  round(cast(sum(sum_dec) OVER w AS DOUBLE), 5) AS roll_sum_value,
       |  count(*) OVER w AS roll_days
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
       |  RANGE BETWEEN ${windowDays - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY event_type, day_num""".stripMargin

  /** Data-quality constraint report — twin of Checks.report over
    * lineitem/orders: identical null conventions (accepted-values and
    * bounds skip nulls; FK counts null keys as orphans), exact
    * integer counts, same check names.
    */
  def dataChecks(qtyLo: Double, qtyHi: Double,
      priceLo: Double, priceHi: Double): String =
    s"""WITH rows_all AS (
       |SELECT 'accepted_values(l_returnflag)' AS check_name, count(*)::BIGINT AS total,
       |  sum(CASE WHEN l_returnflag IS NOT NULL
       |    AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)::BIGINT AS violations
       |  FROM lineitem
       |UNION ALL
       |SELECT 'bounds(l_extendedprice)', count(*)::BIGINT,
       |  sum(CASE WHEN l_extendedprice IS NOT NULL
       |    AND (l_extendedprice::DOUBLE < $priceLo OR l_extendedprice::DOUBLE > $priceHi)
       |    THEN 1 ELSE 0 END)::BIGINT FROM lineitem
       |UNION ALL
       |SELECT 'bounds(l_quantity)', count(*)::BIGINT,
       |  sum(CASE WHEN l_quantity IS NOT NULL
       |    AND (l_quantity::DOUBLE < $qtyLo OR l_quantity::DOUBLE > $qtyHi)
       |    THEN 1 ELSE 0 END)::BIGINT FROM lineitem
       |UNION ALL
       |SELECT 'fk(l_orderkey->orders)', count(*)::BIGINT,
       |  sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
       |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
       |    ON l.l_orderkey = o.o_orderkey
       |UNION ALL
       |SELECT 'not_null(l_shipdate)', count(*)::BIGINT,
       |  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
       |UNION ALL
       |SELECT 'unique(l_orderkey,l_linenumber)', sum(n)::BIGINT,
       |  sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END)::BIGINT
       |  FROM (SELECT count(*) AS n FROM lineitem
       |        GROUP BY l_orderkey, l_linenumber))
       |SELECT check_name, total, violations, violations = 0 AS passed
       |FROM rows_all ORDER BY check_name""".stripMargin

  /** Gap-filled daily series — twin of Events.gapFillDaily: per-type
    * day spine from `range(d0, d1+1)`, zero-filled counts/sums,
    * forward-filled last observed daily total (`last_value IGNORE
    * NULLS` over the same unbounded-preceding ROWS frame).
    */
  val eventsGapFill: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |    count(*)::BIGINT AS n_events,
       |    sum(cast(value AS DECIMAL(18,6))) AS sum_dec
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT event_type, min(day_num) AS d0, max(day_num) AS d1
       |  FROM daily GROUP BY 1),
       |spine AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day_num FROM span),
       |j AS (SELECT s.event_type, s.day_num, d.n_events, d.sum_dec
       |  FROM spine s LEFT JOIN daily d USING (event_type, day_num))
       |SELECT event_type, day_num,
       |  n_events IS NOT NULL AS observed,
       |  coalesce(n_events, 0)::BIGINT AS n_events,
       |  round(cast(coalesce(sum_dec, 0::DECIMAL(18,6)) AS DOUBLE), 5) AS sum_value,
       |  round(cast(last_value(sum_dec IGNORE NULLS) OVER
       |    (PARTITION BY event_type ORDER BY day_num
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 5)
       |    AS ffill_sum_value
       |FROM j ORDER BY event_type, day_num""".stripMargin

  /** Hopping hourly windows — twin of Events.hoppingHourly: each
    * event expands to its two covering 30-min-aligned hour windows
    * (s₀ = ⌊t/slide⌋·slide and s₀ − slide, both holding s ≤ t <
    * s + 1h), matching Spark's epoch-aligned `window()` assignment.
    */
  val eventsHopping: String =
    s"""WITH e AS (SELECT event_type, epoch_us(cast(ts AS TIMESTAMP)) AS tus,
       |  value FROM events),
       |x AS (SELECT event_type, value,
       |  unnest([(tus // 1800000000) * 1800000000,
       |          (tus // 1800000000) * 1800000000 - 1800000000]) AS win_start_us
       |  FROM e)
       |SELECT win_start_us, event_type, count(*)::BIGINT AS n_events,
       |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
       |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Trailing z-score anomaly flags — twin of Events.anomalyFlags:
    * exact-decimal windowed S₁/S₂ over the prior-days RANGE frame,
    * integer HALF-UP trailing mean, and the SAME double expression
    * tree for the z-test.
    */
  def eventsAnomaly(windowDays: Int, k: Double, minDays: Int): String = {
    val mu = "(cast(s1 AS DOUBLE) / wc::DOUBLE)"
    val varr = s"greatest(cast(s2 AS DOUBLE) / wc::DOUBLE - $mu * $mu, 0.0)"
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |    count(*)::BIGINT AS n_events,
       |    sum(cast(value AS DECIMAL(18,6))) AS sum_dec
       |  FROM events GROUP BY 1, 2),
       |d2 AS (SELECT event_type, day_num, n_events,
       |  round(cast(sum_dec AS DOUBLE), 5)::DECIMAL(18,5) AS v FROM daily),
       |st AS (SELECT *, sum(v) OVER w AS s1,
       |  sum(v::DECIMAL(19,5) * v) OVER w AS s2,
       |  count(*) OVER w AS wc FROM d2
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day_num
       |    RANGE BETWEEN $windowDays PRECEDING AND 1 PRECEDING))
       |SELECT event_type, day_num, n_events,
       |  cast(v AS DOUBLE) AS sum_value,
       |  wc::BIGINT AS win_days,
       |  CASE WHEN wc > 0 THEN floor((cast(s1 * 100000 AS BIGINT) * 2 + wc)::DOUBLE
       |    / (wc * 2)::DOUBLE) / 100000.0 ELSE 0.0 END AS mean_prior,
       |  CASE WHEN wc > 0 THEN round(sqrt($varr), 5) ELSE 0.0 END AS std_prior,
       |  (wc >= $minDays AND abs(cast(v AS DOUBLE) - $mu) > $k * sqrt($varr))
       |    AS is_anomaly
       |FROM st ORDER BY event_type, day_num""".stripMargin
  }

  /** Ordered funnel — twin of Events.funnelStages via sequential
    * filtered-min CTEs (stage i's min is taken at-or-after stage
    * i-1's time; a user leaves the funnel by absence from the CTE,
    * which the LEFT JOINs surface as nulls exactly like the Spark
    * side's null-propagating HOF chain).
    */
  def eventsFunnel(stages: Seq[String]): String = {
    require(stages.length == 3, "oracle written for the 3-stage flagship")
    val Seq(s0, s1, s2) = stages
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
       |f0 AS (SELECT user_id, min(ts_us) AS t0 FROM e WHERE event_type = '$s0' GROUP BY 1),
       |f1 AS (SELECT e.user_id, min(ts_us) AS t1 FROM e JOIN f0 USING (user_id)
       |  WHERE event_type = '$s1' AND ts_us >= t0 GROUP BY 1),
       |f2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN f1 USING (user_id)
       |  WHERE event_type = '$s2' AND ts_us >= t1 GROUP BY 1)
       |SELECT f0.user_id, t0 AS ${s0}_us, t1 AS ${s1}_us, t2 AS ${s2}_us
       |FROM f0 LEFT JOIN f1 ON f0.user_id = f1.user_id
       |LEFT JOIN f2 ON f0.user_id = f2.user_id
       |ORDER BY f0.user_id""".stripMargin
  }

  /** Range-band roll-up — twin of the q_range_join pipeline. The
    * oracle uses the PLAIN range join (bucket expansion is an
    * equi-refinement of it — identical matches is the property under
    * test, same as skewJoin).
    */
  def rangeJoin(bands: Seq[(String, Double, Double)]): String = {
    val values = bands
      .map { case (l, lo, hi) => s"('$l', ${lo}::DOUBLE, ${hi}::DOUBLE)" }
      .mkString(", ")
    s"""WITH bands(label, lo, hi) AS (SELECT * FROM (VALUES $values))
       |SELECT label, count(*) AS n_events,
       |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
       |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
       |GROUP BY label ORDER BY label""".stripMargin
  }

  /** Equi-width histogram — twin of Quantiles.histogram. */
  def histogram(width: Double): String =
    s"""SELECT event_type,
       |  cast(floor(value / ${width}::DOUBLE) AS BIGINT) AS bucket,
       |  count(*)::BIGINT AS n,
       |  cast(floor(value / ${width}::DOUBLE) AS BIGINT) * ${width}::DOUBLE AS bucket_lo
       |FROM events WHERE value IS NOT NULL
       |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  /** Morton Z-key — twin of ZOrder.morton2: the identical shift/mask
    * spread chain, generated from the SAME ZOrder.SpreadSteps
    * constants so the bit math cannot drift.
    */
  val zorder: String = {
    def spread(e: String): String =
      graft.ext.ZOrder.SpreadSteps.foldLeft(s"($e & 65535)") {
        case (acc, (sh, m)) => s"((($acc | ($acc << $sh)) & $m))"
      }
    s"""WITH e AS (SELECT event_id, user_id,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num
       |  FROM events)
       |SELECT event_id, user_id, day_num,
       |  (${spread("user_id")} | (${spread("day_num")} << 1)) AS zkey
       |FROM e ORDER BY event_id""".stripMargin
  }

  /** Day-over-day deltas — twin of Events.dailyDelta (lag over the
    * collapsed daily frame, decimal-exact subtraction).
    */
  val eventsDelta: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
      |    count(*)::BIGINT AS n_events,
      |    sum(cast(value AS DECIMAL(18,6))) AS sum_dec
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day_num, n_events,
      |  n_events - lag(n_events) OVER w AS delta_events,
      |  round(cast(sum_dec AS DOUBLE), 5) AS sum_value,
      |  round(cast(sum_dec - lag(sum_dec) OVER w AS DOUBLE), 5) AS delta_value
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day_num)
      |ORDER BY event_type, day_num""".stripMargin

  /** SCD type-2 history — twin of Events.scd2History: per-user runs
    * of equal consecutive event_type values become versioned
    * half-open validity intervals; ordering within a user is
    * (ts_us, event_id) on both engines, so same-timestamp ties
    * resolve identically.
    */
  /** Latest-state snapshot — twin of Events.latestSnapshot: one row
    * per user, attributes of the most recent event, ties at equal
    * timestamps broken by event_id DESC (both engines).
    */
  val latestState: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value,
      |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
      |r AS (SELECT *, row_number() OVER
      |    (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
      |  FROM e)
      |SELECT user_id, ts_us, event_type, value FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  val scd2: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
      |ch AS (SELECT *, lag(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
      |keep AS (SELECT user_id, event_id, event_type, ts_us FROM ch
      |  WHERE prev IS NULL OR event_type <> prev)
      |SELECT user_id, event_type,
      |  ts_us AS valid_from_us,
      |  lead(ts_us) OVER w AS valid_to_us,
      |  cast(row_number() OVER w AS INT) AS version,
      |  (lead(ts_us) OVER w IS NULL) AS is_current
      |FROM keep
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** As-of join of purchases to the latest prior-or-equal click per
    * user — twin of Events.asofJoin via DuckDB's native ASOF LEFT
    * JOIN. Clicks are collapsed to one row per (user, ts) on both
    * sides (arg_max ≙ max_by on the unique event_id) because as-of
    * semantics on duplicate right timestamps are tie-order-dependent
    * in every engine. All time arithmetic in whole microseconds.
    */
  val eventsAsof: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_us, p.value,
      |  c.ts_us AS asof_ts_us, c.click_value AS asof_click_value,
      |  p.ts_us - c.ts_us AS us_since_click
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |ORDER BY p.event_id""".stripMargin

  /** Top-3 customers by revenue per nation — join + window rank over
    * the TPC-H side (twin of the q_topk_per_nation DataFrame plan).
    */
  val topkPerNation: String =
    """WITH rev AS (
      |  SELECT n_name, c_custkey, c_name,
      |    round(cast(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 5) AS revenue
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, c_custkey, c_name),
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rank FROM rev)
      |SELECT n_name, c_custkey, c_name, revenue, cast(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin

  // ---- round 7 additions -------------------------------------------

  /** Quality-argmax cluster representative — twin of
    * Dedup.keepBestPerCluster over nearDupClusters +
    * TextStats.withDocStats: the dedupClusters transitive closure,
    * per-cluster size, and a (quality desc, id asc) rank-1 kept flag.
    * quality_score is the shared exact-integer HALF_UP blend
    * ([[qualityScoreSql]]) — identical in both engines by §8.3 rule 4.
    */
  val dedupKeepBest: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |$curationHeadCtes,
       |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY cluster_id),
       |r AS (SELECT cc.id AS doc_id, cc.cluster_id, cs.cluster_size, q.quality_score,
       |  row_number() OVER (PARTITION BY cc.cluster_id
       |    ORDER BY q.quality_score DESC, cc.id) AS rk
       |  FROM cc JOIN cs USING (cluster_id) JOIN q ON q.doc_id = cc.id)
       |SELECT doc_id, cluster_id, cluster_size, quality_score, (rk = 1) AS kept
       |FROM r ORDER BY doc_id""".stripMargin

  /** Graded contamination fraction — twin of
    * Decontamination.contaminationFraction over the same md5
    * train/test split as [[decontam]]: per train doc, the share of
    * its distinct shingles found in the held-out set (single a/b
    * division — tie-safe), thresholded into a flag.
    */
  def decontamFrac(testFraction: Double, threshold: Double): String =
    s"""WITH $toksCte, $shCte,
       |te AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
       |  WHERE ${hashUniformSql("split")} < $testFraction),
       |tr AS (SELECT doc_id, s FROM sh
       |  WHERE NOT (${hashUniformSql("split")} < $testFraction)),
       |h AS (SELECT doc_id, count(*)::BIGINT AS n_hits
       |  FROM (SELECT doc_id, unnest(s) AS shingle FROM tr) trx
       |  JOIN te USING (shingle) GROUP BY doc_id),
       |f AS (SELECT tr.doc_id, len(tr.s)::BIGINT AS n_shingles,
       |  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       |  CASE WHEN len(tr.s) > 0
       |    THEN round(coalesce(h.n_hits, 0)::DOUBLE / len(tr.s)::DOUBLE, 5)
       |    ELSE 0.0 END AS contamination
       |  FROM tr LEFT JOIN h USING (doc_id))
       |SELECT doc_id, n_shingles, n_hits, contamination,
       |  (contamination >= $threshold) AS flagged
       |FROM f ORDER BY doc_id""".stripMargin

  /** Per-label centroid drift — twin of Similarity.centroidDrift on
    * the embeddings `label` column: per-(label, dim) exact
    * DECIMAL(28,12) mean (the knnIvfRefined rule), dimension-ordered
    * mean vectors, pairwise sequential-fold cosine.
    */
  val embeddingDrift: String = {
    def rawDot(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2]))"
    s"""WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
       |pe AS (SELECT label, dim, e[dim] AS x FROM v, range(1, 65) t(dim)),
       |sums AS (SELECT label, dim, sum(x::DECIMAL(28,12))::DOUBLE / count(*) AS m
       |  FROM pe GROUP BY label, dim),
       |mvx AS (SELECT label, list(m ORDER BY dim) AS mv FROM sums GROUP BY label),
       |nsz AS (SELECT label, count(*)::BIGINT AS n FROM embeddings GROUP BY label),
       |g AS (SELECT mvx.label, mvx.mv, nsz.n FROM mvx JOIN nsz USING (label))
       |SELECT a.label AS group_a, b.label AS group_b, a.n AS n_a, b.n AS n_b,
       |  round(${rawDot("a.mv", "b.mv")} /
       |    (sqrt(${rawDot("a.mv", "a.mv")}) * sqrt(${rawDot("b.mv", "b.mv")})), 5)
       |    AS centroid_cosine
       |FROM g a JOIN g b ON a.label < b.label
       |ORDER BY group_a, group_b""".stripMargin
  }

  /** Containment near-dup pairs — twin of Dedup.containmentPairs:
    * the dedupNgramJaccard inverted index with Broder containment
    * `n_common / least(n_a, n_b)` instead of symmetric Jaccard.
    */
  def dedupContainment(threshold: Double): String =
    s"""WITH $toksCte, $shCte,
       |shx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |freq AS (SELECT shingle FROM shx GROUP BY shingle HAVING count(*) <= ${graft.ext.Dedup.NgramStopShingleCap}),
       |inv AS (SELECT doc_id, shingle FROM shx JOIN freq USING (shingle)),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_common
       |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sizes AS (SELECT doc_id, len(s)::BIGINT AS n_sh FROM sh)
       |SELECT id_a, id_b, n_common, x.n_sh AS n_a, y.n_sh AS n_b,
       |       round(n_common::DOUBLE / least(x.n_sh, y.n_sh)::DOUBLE, 5) AS containment
       |FROM common JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |WHERE round(n_common::DOUBLE / least(x.n_sh, y.n_sh)::DOUBLE, 5) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Persisted near-dup index probe — twin of
    * Dedup.probeNearDupIndex with corpus = doc_id % 10 != 0 and
    * batch = doc_id % 10 = 0: band keys are per-document, so the
    * cross pairs of the full-corpus banding restricted to
    * (corpus, batch) membership are exactly the probe's pairs.
    */
  val nearDupIndexProbe: String =
    s"""WITH $minHashPairsCtes
       |SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS corpus_id,
       |       CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS batch_id,
       |       jaccard
       |FROM mh
       |WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
       |ORDER BY corpus_id, batch_id""".stripMargin

  /** Per-source dedup savings — twin of Dedup.dedupSavings: the
    * dedupClusters closure's min-id survivorship joined onto source +
    * whitespace token counts, rolled up per source.
    */
  val dedupSavings: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM mh
       |  UNION ALL SELECT id_b, id_a FROM mh),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
       |nt AS (SELECT doc_id, len(t)::BIGINT AS nt FROM toks),
       |sv AS (SELECT d.source, (cc.id = cc.cluster_id) AS surv, nt.nt
       |  FROM cc JOIN documents d ON d.doc_id = cc.id
       |  JOIN nt ON nt.doc_id = cc.id)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN NOT surv THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  sum(nt)::BIGINT AS tokens_total,
       |  sum(CASE WHEN NOT surv THEN nt ELSE 0 END)::BIGINT AS tokens_dropped,
       |  CASE WHEN sum(nt) > 0
       |    THEN round(sum(CASE WHEN NOT surv THEN nt ELSE 0 END)::DOUBLE
       |      / sum(nt)::DOUBLE, 5)
       |    ELSE 0.0 END AS savings_ratio
       |FROM sv GROUP BY source ORDER BY source""".stripMargin

  /** Cross-source near-dup matrix — twin of Dedup.nearDupSourceMatrix:
    * the banded MinHash pairs joined to both endpoints' sources,
    * canonically ordered, with the exact-integer HALF_UP mean of the
    * 5-decimal jaccard ([[decAvg5Sql]]).
    */
  val nearDupSources: String =
    s"""WITH $minHashPairsCtes,
       |sp AS (SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b, mh.jaccard
       |  FROM mh JOIN documents da ON mh.id_a = da.doc_id
       |  JOIN documents db ON mh.id_b = db.doc_id)
       |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
       |  ${decAvg5Sql("jaccard")} AS avg_jaccard
       |FROM sp GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Embedding dimension health profile — twin of
    * Similarity.dimProfile: exact counts/min/max, DECIMAL(28,12)
    * quantized Σv and Σv², 0-based dim to match posexplode.
    */
  val embeddingDims: String =
    s"""WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
       |pe AS (SELECT dim, e[dim] AS x FROM v, range(1, 65) t(dim)),
       |a AS (SELECT dim, count(*)::BIGINT AS n,
       |  sum(CASE WHEN x = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       |  min(x) AS mn, max(x) AS mx,
       |  sum(x::DECIMAL(28,12))::DOUBLE AS s,
       |  sum((x * x)::DECIMAL(28,12))::DOUBLE AS ss
       |  FROM pe GROUP BY dim)
       |SELECT cast(dim - 1 AS INT) AS dim, n, n_zero, mn, mx,
       |  round(s / n::DOUBLE, 5) AS mean,
       |  round(sqrt(greatest(0.0, (ss - s * s / n::DOUBLE) / n::DOUBLE)), 5) AS std
       |FROM a ORDER BY dim""".stripMargin

  /** Multi-probe LSH top-k — twin of Similarity.lshMultiProbeTopK:
    * the [[knnLsh]] pipeline with the query side expanded to its own
    * bucket plus every 1-bit-flipped bucket (masks 0 and 1&lt;&lt;p).
    */
  def knnLshMultiprobe(k: Int, planes: Int): String = {
    val masks = (0L +: (0 until planes).map(p => 1L << p)).mkString(", ")
    s"""WITH $normCte,
       |planes AS (SELECT p, list_transform(range(0, 64),
       |  d -> cast('0x' || substr(md5(p || ',' || d), 1, 8) AS BIGINT)::DOUBLE / 2147483648.0 - 1.0) AS w
       |  FROM range(0, $planes) t(p)),
       |bucketed AS (SELECT vec_id, nv,
       |  sum(CASE WHEN list_sum(list_transform(list_zip(nv, w), z -> z[1] * z[2])) >= 0
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT AS bucket
       |  FROM n CROSS JOIN planes GROUP BY vec_id, nv),
       |probes AS (SELECT vec_id, nv, xor(bucket, m)::BIGINT AS bucket
       |  FROM (SELECT * FROM bucketed WHERE vec_id < 5)
       |  CROSS JOIN (SELECT unnest([$masks]) AS m) masks),
       |scored AS (SELECT probes.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("probes.nv", "c.nv")} AS score
       |  FROM bucketed c JOIN probes
       |    ON c.bucket = probes.bucket AND probes.vec_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** SQ8 scalar-quantized search — twin of Similarity.sq8TopK:
    * per-dim exact min/max bounds over the normalized corpus,
    * floor-rounded 8-bit codes, asymmetric dequantized scoring,
    * top-`rerank` candidates exact-reranked to top-`k`. Every number
    * is either exact (bounds, codes) or a sequential-fold double
    * identical across engines (§8.3 rule 9).
    */
  def knnSq8(k: Int, rerank: Int): String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS query_id, nv AS nqv FROM n WHERE vec_id < 5),
       |pe AS (SELECT dim, nv[dim] AS x FROM n, range(1, 65) t(dim)),
       |mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM pe GROUP BY dim),
       |b AS (SELECT list(mn ORDER BY dim) AS mn, list(mx ORDER BY dim) AS mx FROM mm),
       |coded AS (SELECT vec_id AS neighbor_id, nv,
       |  list_transform(list_zip(nv, b.mn, b.mx), z ->
       |    CASE WHEN z[3] - z[2] > 0
       |      THEN floor((z[1] - z[2]) / (z[3] - z[2]) * 255.0 + 0.5)
       |      ELSE 0.0 END) AS codes
       |  FROM n, b),
       |dqv AS (SELECT neighbor_id, nv,
       |  list_transform(list_zip(codes, b.mn, b.mx), z ->
       |    z[1] * (z[3] - z[2]) / 255.0 + z[2]) AS dq
       |  FROM coded, b),
       |sc AS (SELECT q.query_id, q.nqv, d.neighbor_id, d.nv,
       |  list_sum(list_transform(list_zip(q.nqv, d.dq), z -> z[1] * z[2])) AS approx
       |  FROM dqv d CROSS JOIN q WHERE q.query_id <> d.neighbor_id),
       |cand AS (SELECT query_id, nqv, neighbor_id, nv, row_number() OVER
       |  (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS ar FROM sc),
       |ex AS (SELECT query_id, neighbor_id,
       |  ${dotSql("nqv", "nv")} AS score
       |  FROM cand WHERE ar <= $rerank),
       |rk AS (SELECT query_id, neighbor_id, score, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM ex)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Exact tie-corrected ROC AUC per source — twin of Eval.aucByGroup
    * over the quality blend vs the is-`targetLang` label: identical
    * value-count grid, identical ×2 integer numerator (HUGEINT, the
    * DECIMAL(38,0) twin), one identical double division per group.
    */
  def auc(targetLang: String): String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, source, lang, t, text FROM toks
       |  JOIN documents USING (doc_id)),
       |q AS (SELECT source, lang, $qualityScoreSql AS s FROM d),
       |sc AS (SELECT source, s,
       |  sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END)::BIGINT AS np,
       |  (count(*) - sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END))::BIGINT AS nq
       |  FROM q GROUP BY source, s),
       |cum AS (SELECT source, s, np, nq,
       |  coalesce(sum(nq) OVER (PARTITION BY source ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS qb FROM sc)
       |SELECT source, sum(np)::BIGINT AS n_pos, sum(nq)::BIGINT AS n_neg,
       |  CASE WHEN sum(np) > 0 AND sum(nq) > 0 THEN
       |    round(sum(np::HUGEINT * (qb::HUGEINT * 2 + nq::HUGEINT))::DOUBLE /
       |      (sum(np)::DOUBLE * sum(nq)::DOUBLE * 2.0), 5) END AS auc
       |FROM cum GROUP BY source ORDER BY source""".stripMargin

  /** Per-source KS drift vs the rest of the corpus — twin of
    * Eval.ksDriftByGroup over the quality blend: dense grid×groups
    * CDFs, identical double difference shapes, max then round.
    */
  val ksDrift: String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, source, t, text FROM toks JOIN documents USING (doc_id)),
       |q AS (SELECT source AS g, $qualityScoreSql AS s FROM d),
       |sc AS (SELECT g, s, count(*)::BIGINT AS c FROM q GROUP BY 1, 2),
       |grid AS (SELECT DISTINCT s FROM sc),
       |gs AS (SELECT DISTINCT g FROM sc),
       |f AS (SELECT gs.g, grid.s, coalesce(sc.c, 0) AS c
       |  FROM gs CROSS JOIN grid LEFT JOIN sc ON sc.g = gs.g AND sc.s = grid.s),
       |cs AS (SELECT g, s, sum(c) OVER (PARTITION BY g ORDER BY s
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s FROM f),
       |tot AS (SELECT s, sum(c)::BIGINT AS ct FROM sc GROUP BY 1),
       |cg AS (SELECT s, sum(ct) OVER (ORDER BY s
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g FROM tot),
       |ns AS (SELECT g, sum(c)::BIGINT AS n_s FROM sc GROUP BY 1),
       |na AS (SELECT sum(c)::BIGINT AS n FROM sc)
       |SELECT g AS source, max(n_s)::BIGINT AS n_docs,
       |  round(max(abs(cum_s::DOUBLE / n_s::DOUBLE -
       |    (cum_g - cum_s)::DOUBLE / (n - n_s)::DOUBLE)), 5) AS ks
       |FROM cs JOIN cg USING (s) JOIN ns USING (g) CROSS JOIN na
       |WHERE n > n_s GROUP BY g ORDER BY source""".stripMargin

  // ---- logistic regression (twin of graft.ext.LogReg) ----

  /** Feature CTEs ending in `feat(doc_id, lang, y, x1..x4)` — the
    * DECIMAL-quantized projection LogReg.features builds (length ramp
    * + the 5-decimal doc-stat ratios). MATERIALIZED: every GD round
    * references it (the bpeEncode lesson — un-materialized chained
    * CTEs re-derive exponentially).
    */
  private def logregFeatCtes(targetLang: String): String =
    s"""$toksCte,
       |d AS (SELECT doc_id, lang, t, text, length(text)::DOUBLE AS nc FROM toks
       |  JOIN documents USING (doc_id)),
       |feat AS MATERIALIZED (SELECT doc_id, lang,
       |  (CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END)::DECIMAL(10,7) AS y,
       |  round(least(len(t), 100)::DOUBLE / 100.0, 5)::DECIMAL(8,5) AS x1,
       |  round(CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN ('a', 'the')))::DOUBLE / len(t)::DOUBLE ELSE 0.0 END, 5)::DECIMAL(8,5) AS x2,
       |  round(CASE WHEN nc > 0 THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nc ELSE 0.0 END, 5)::DECIMAL(8,5) AS x3,
       |  round(CASE WHEN nc > 0 THEN (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / nc ELSE 0.0 END, 5)::DECIMAL(8,5) AS x4
       |  FROM d)""".stripMargin

  /** One unrolled GD round r: weights CTE w{r-1} → scored p{r} →
    * gradient g{r} → w{r}. Shapes mirror LogReg.trainStates term for
    * term (quantized sigmoid, exact decimal gradient sums, one double
    * update expression per weight re-quantized at 9).
    */
  private def logregRoundCtes(r: Int, lr: Double): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT f.*, $prev.*,
       |  least(greatest(round(1.0 / (1.0 + exp(-((w0 + w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4)::DOUBLE))), 7), 0.0000001), 0.9999999)::DECIMAL(10,7) AS p
       |  FROM feat f CROSS JOIN $prev),
       |g$r AS (SELECT count(*)::BIGINT AS n,
       |  sum(p - y) AS g0, sum((p - y) * x1) AS g1, sum((p - y) * x2) AS g2,
       |  sum((p - y) * x3) AS g3, sum((p - y) * x4) AS g4,
       |  sum(round(-(y::DOUBLE * ln(p::DOUBLE) +
       |    (1.0 - y::DOUBLE) * ln(1.0 - p::DOUBLE)), 7)::DECIMAL(18,7)) AS lsum
       |  FROM p$r),
       |w$r AS MATERIALIZED (SELECT
       |  round($prev.w0::DOUBLE - $lr * (g0::DOUBLE / n::DOUBLE), 9)::DECIMAL(18,9) AS w0,
       |  round($prev.w1::DOUBLE - $lr * (g1::DOUBLE / n::DOUBLE), 9)::DECIMAL(18,9) AS w1,
       |  round($prev.w2::DOUBLE - $lr * (g2::DOUBLE / n::DOUBLE), 9)::DECIMAL(18,9) AS w2,
       |  round($prev.w3::DOUBLE - $lr * (g3::DOUBLE / n::DOUBLE), 9)::DECIMAL(18,9) AS w3,
       |  round($prev.w4::DOUBLE - $lr * (g4::DOUBLE / n::DOUBLE), 9)::DECIMAL(18,9) AS w4,
       |  round(lsum::DOUBLE / n::DOUBLE, 6) AS loss
       |  FROM g$r CROSS JOIN $prev)""".stripMargin
  }

  private def logregCtes(targetLang: String, iters: Int, lr: Double): String = {
    val zero = "w0 AS (SELECT 0.0::DECIMAL(18,9) AS w0, 0.0::DECIMAL(18,9) AS w1, " +
      "0.0::DECIMAL(18,9) AS w2, 0.0::DECIMAL(18,9) AS w3, 0.0::DECIMAL(18,9) AS w4)"
    val rounds = (1 to iters).map(logregRoundCtes(_, lr)).mkString(",\n")
    s"${logregFeatCtes(targetLang)},\n$zero,\n$rounds"
  }

  /** GD training trace — twin of LogReg.train. */
  def logregTrain(targetLang: String, iters: Int, lr: Double): String = {
    val rows = (1 to iters).map { r =>
      s"SELECT $r AS iter, w0::DOUBLE AS w_bias, w1::DOUBLE AS w_len, " +
        s"w2::DOUBLE AS w_stop, w3::DOUBLE AS w_punct, w4::DOUBLE AS w_alpha, " +
        s"loss FROM w$r"
    }.mkString(" UNION ALL ")
    s"WITH ${logregCtes(targetLang, iters, lr)}\n$rows ORDER BY iter"
  }

  /** The quantized-clamped sigmoid under a weights CTE — ONE copy of
    * the scoring expression shared by every final-model oracle twin.
    */
  private val logregPExpr: String =
    "least(greatest(round(1.0 / (1.0 + exp(-((w0 + w1 * x1 + w2 * x2 + " +
      "w3 * x3 + w4 * x4)::DOUBLE))), 7), 0.0000001), 0.9999999)::DECIMAL(10,7)"

  /** Final-model application per language — twin of
    * LogReg.predictByGroup (same unrolled training, one scoring pass
    * with the round-`iters` weights).
    */
  def logregPredict(targetLang: String, iters: Int, lr: Double): String =
    s"""WITH ${logregCtes(targetLang, iters, lr)},
       |sc AS (SELECT f.lang, $logregPExpr AS p
       |  FROM feat f CROSS JOIN w$iters)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pred_pos,
       |  round(sum(p)::DOUBLE / count(*)::DOUBLE, 5) AS avg_p
       |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  /** PR/F1 curve over the score grid — twin of LogReg.prCurve:
    * 4-decimal grid collapse, descending cumulative counts, the same
    * raw-division → round-at-5 shapes.
    */
  def logregPrCurve(targetLang: String, iters: Int, lr: Double): String = {
    val prec = "n_true_pos::DOUBLE / n_pred_pos::DOUBLE"
    val rec = "n_true_pos::DOUBLE / np_all::DOUBLE"
    s"""WITH ${logregCtes(targetLang, iters, lr)},
       |sc AS (SELECT round(($logregPExpr)::DOUBLE, 4) AS threshold,
       |  y::BIGINT AS yy FROM feat f CROSS JOIN w$iters),
       |g AS (SELECT threshold, count(*)::BIGINT AS n, sum(yy)::BIGINT AS np
       |  FROM sc GROUP BY 1),
       |tot AS (SELECT sum(np)::BIGINT AS np_all FROM g),
       |c AS (SELECT threshold,
       |  sum(n) OVER (ORDER BY threshold DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    AS n_pred_pos,
       |  sum(np) OVER (ORDER BY threshold DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    AS n_true_pos
       |  FROM g)
       |SELECT threshold, n_pred_pos, n_true_pos,
       |  round($prec, 5) AS "precision",
       |  round($rec, 5) AS recall,
       |  CASE WHEN n_true_pos > 0
       |    THEN round(2.0 * n_true_pos::DOUBLE
       |      / (n_pred_pos + np_all)::DOUBLE, 5)
       |    ELSE 0.0 END AS f1
       |FROM c CROSS JOIN tot ORDER BY threshold DESC""".stripMargin
  }

  /** Reliability bins — twin of LogReg.calibrationBins. */
  def logregCalibration(targetLang: String, iters: Int, lr: Double,
      nBins: Int): String =
    s"""WITH ${logregCtes(targetLang, iters, lr)},
       |sc AS (SELECT $logregPExpr AS p, y::BIGINT AS yy
       |  FROM feat f CROSS JOIN w$iters),
       |b AS (SELECT cast(least(floor(p::DOUBLE * $nBins), ${nBins - 1}) AS INT)
       |  AS bin, p, yy FROM sc),
       |g AS (SELECT bin, count(*)::BIGINT AS n_docs, sum(p) AS sp,
       |  sum(yy)::BIGINT AS np FROM b GROUP BY 1)
       |SELECT bin, n_docs,
       |  round(sp::DOUBLE / n_docs::DOUBLE, 5) AS avg_p,
       |  round(np::DOUBLE / n_docs::DOUBLE, 5) AS frac_pos,
       |  round(abs(sp::DOUBLE / n_docs::DOUBLE - np::DOUBLE / n_docs::DOUBLE), 5)
       |    AS gap
       |FROM g ORDER BY bin""".stripMargin

  /** Brier (Murphy) decomposition — twin of Eval.brierDecomposition
    * over the trained model's cent-binned scores: the shared q_u
    * quantization and the four single-division closed numerators.
    */
  def logregBrier(targetLang: String, iters: Int, lr: Double): String =
    s"""WITH ${logregCtes(targetLang, iters, lr)},
       |sc AS (SELECT $logregPExpr AS p, y::BIGINT AS yy
       |  FROM feat f CROSS JOIN w$iters),
       |bk AS (SELECT cast(round(p * 100, 0) AS BIGINT) AS c,
       |  count(*)::BIGINT AS n, sum(yy)::BIGINT AS o FROM sc GROUP BY 1),
       |bq AS (SELECT *, (o::HUGEINT * o * 1000000000) // n AS qu FROM bk),
       |tot AS (SELECT sum(n)::BIGINT AS nn, sum(o)::BIGINT AS oo,
       |  sum(o::HUGEINT * (c - 100) * (c - 100)
       |    + (n - o)::HUGEINT * c * c)::HUGEINT AS bn,
       |  sum(c::HUGEINT * c * n)::HUGEINT AS cn,
       |  sum(c::HUGEINT * o)::HUGEINT AS co,
       |  sum(qu)::HUGEINT AS q FROM bq)
       |SELECT nn AS n, oo AS n_pos,
       |  round(bn::DOUBLE / (nn::HUGEINT * 10000)::DOUBLE, 5) AS brier,
       |  round(((cn - co * 200) * 1000000000 + q * 10000)::DOUBLE /
       |    (nn::HUGEINT * 10000 * 1000000000)::DOUBLE, 5) AS reliability,
       |  round((nn::HUGEINT * q - oo::HUGEINT * oo * 1000000000)::DOUBLE /
       |    (nn::HUGEINT * nn * 1000000000)::DOUBLE, 5) AS resolution,
       |  round((oo::HUGEINT * (nn - oo))::DOUBLE /
       |    (nn::HUGEINT * nn)::DOUBLE, 5) AS uncertainty
       |FROM tot""".stripMargin

  /** Daily event-type mix drift — twin of Stats.categoricalJsDrift
    * over (day, event_type): the jsDrift HUGEINT ladder on the
    * bounded day×type grid, threshold on the unrounded quotient.
    */
  def typeMixDrift(threshold: Double): String =
    s"""WITH gt AS (SELECT cast(ts AS DATE) AS g, event_type AS i,
       |  count(*)::BIGINT AS a FROM events GROUP BY 1, 2),
       |pool AS (SELECT i, sum(a)::BIGINT AS b FROM gt GROUP BY i),
       |att AS (SELECT g, sum(a)::BIGINT AS ta FROM gt GROUP BY g),
       |btt AS (SELECT sum(b)::BIGINT AS tb FROM pool),
       |terms AS (SELECT gt.g, att.ta, btt.tb, gt.a, pool.b,
       |  (round(ln((gt.a::HUGEINT * btt.tb * 2)::DOUBLE /
       |     (gt.a::HUGEINT * btt.tb + pool.b::HUGEINT * att.ta)::DOUBLE), 9)
       |   ::DECIMAL(18,9) * 1000000000)::HUGEINT AS lpu,
       |  (round(ln((pool.b::HUGEINT * att.ta * 2)::DOUBLE /
       |     (gt.a::HUGEINT * btt.tb + pool.b::HUGEINT * att.ta)::DOUBLE), 9)
       |   ::DECIMAL(18,9) * 1000000000)::HUGEINT AS lqu
       |  FROM gt JOIN pool USING (i) JOIN att USING (g) CROSS JOIN btt),
       |s AS (SELECT g, ta, tb,
       |    sum(a::HUGEINT * lpu)::HUGEINT AS s1,
       |    sum(b::HUGEINT * lqu)::HUGEINT AS s2,
       |    sum(b)::HUGEINT AS bp
       |  FROM terms GROUP BY 1, 2, 3),
       |fin AS (SELECT g, ta,
       |  (tb::HUGEINT * s1 + ta::HUGEINT * s2
       |    + ta::HUGEINT * (tb - bp) * 693147181)::DOUBLE /
       |  (ta::HUGEINT * tb * 2000000000)::DOUBLE AS raw FROM s)
       |SELECT g AS "group", ta AS n_rows, round(raw, 5) AS jsd,
       |  (raw >= $threshold) AS drifted
       |FROM fin ORDER BY "group"""".stripMargin

  /** Per-source trained-classifier AUC — twin of LogReg.aucFrom:
    * same unrolled training, the quantized score grid per source,
    * the shared ×2-integer AUC numerator.
    */
  def logregAuc(targetLang: String, iters: Int, lr: Double): String =
    s"""WITH ${logregCtes(targetLang, iters, lr)},
       |q AS (SELECT d2.source, $logregPExpr AS s, f.y
       |  FROM feat f CROSS JOIN w$iters JOIN documents d2 USING (doc_id)),
       |sc AS (SELECT source, s,
       |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
       |  (count(*) - sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))::BIGINT AS nq
       |  FROM q GROUP BY source, s),
       |cum AS (SELECT source, s, np, nq,
       |  coalesce(sum(nq) OVER (PARTITION BY source ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS qb FROM sc)
       |SELECT source, sum(np)::BIGINT AS n_pos, sum(nq)::BIGINT AS n_neg,
       |  CASE WHEN sum(np) > 0 AND sum(nq) > 0 THEN
       |    round(sum(np::HUGEINT * (qb::HUGEINT * 2 + nq::HUGEINT))::DOUBLE /
       |      (sum(np)::DOUBLE * sum(nq)::DOUBLE * 2.0), 5) END AS auc
       |FROM cum GROUP BY source ORDER BY source""".stripMargin

  /** Per-cluster simplified silhouette — twin of
    * Similarity.kmeansSilhouette: the shared refined-k-means chain's
    * final scoring kept at crank ≤ 2, pivoted per point, the
    * (b−a)/max(a,b) cosine-distance form rounded at 5, exact HALF_UP
    * decimal means per cluster.
    */
  def kmeansSilhouette(nlist: Int, refine: Int): String =
    s"""WITH ${kmeansAssignCtes(nlist, refine)},
       |top2 AS (SELECT vec_id,
       |  max(CASE WHEN crank = 1 THEN centroid_id END) AS cluster_id,
       |  max(CASE WHEN crank = 1 THEN cscore END) AS c1,
       |  max(CASE WHEN crank = 2 THEN cscore END) AS c2
       |  FROM rf WHERE crank <= 2 GROUP BY vec_id),
       |sil AS (SELECT cluster_id,
       |  CASE WHEN greatest(1.0 - c1, 1.0 - c2) > 0
       |    THEN round(((1.0 - c2) - (1.0 - c1)) / greatest(1.0 - c1, 1.0 - c2), 5)
       |    ELSE 0.0 END AS s
       |  FROM top2)
       |SELECT cluster_id, count(*)::BIGINT AS cluster_size,
       |  ${decAvg5Sql("s")} AS mean_silhouette,
       |  min(s) AS min_silhouette
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  /** K-fold cross-validated Naive Bayes — twin of Classify.nbCrossVal:
    * identical md5 fold keys, one count pass with fold as a grouping
    * key, training counts / totals / vocabulary / priors by
    * global-minus-fold subtraction, quantized log terms, exact decimal
    * scores, (score desc, label) argmax. MATERIALIZED on the
    * multiply-referenced relations (f×3, tok×2, cf×4, gtok×2 — DuckDB
    * inlines CTEs by default and would re-derive each).
    */
  def nbCrossVal(k: Int): String =
    s"""WITH f AS MATERIALIZED (SELECT doc_id, lang,
       |  cast(cast('0x' || substr(md5('fold|' || doc_id), 1, 8) AS BIGINT)
       |    % $k AS INT) AS fold,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, fold, lang AS label, unnest(t) AS token FROM f),
       |cf AS MATERIALIZED (SELECT fold, label, token, count(*)::BIGINT AS c
       |  FROM tok GROUP BY 1, 2, 3),
       |cg AS MATERIALIZED (SELECT label, token, sum(c)::BIGINT AS cg FROM cf GROUP BY 1, 2),
       |ntg AS (SELECT label, sum(cg)::BIGINT AS ntg FROM cg GROUP BY 1),
       |ntf AS (SELECT fold, label, sum(c)::BIGINT AS ntf FROM cf GROUP BY 1, 2),
       |folds AS (SELECT DISTINCT fold FROM f),
       |nt_train AS (SELECT folds.fold, ntg.label,
       |  ntg.ntg - coalesce(ntf.ntf, 0) AS nt_train
       |  FROM folds CROSS JOIN ntg
       |  LEFT JOIN ntf ON ntf.fold = folds.fold AND ntf.label = ntg.label),
       |tpf AS MATERIALIZED (SELECT fold, token, sum(c)::BIGINT AS cft FROM cf GROUP BY 1, 2),
       |gtok AS MATERIALIZED (SELECT token, sum(cft)::BIGINT AS gt FROM tpf GROUP BY 1),
       |vall AS (SELECT count(*)::BIGINT AS v_all FROM gtok),
       |nexcl AS (SELECT fold, count(*)::BIGINT AS n_excl
       |  FROM tpf JOIN gtok USING (token) WHERE cft = gt GROUP BY 1),
       |vtrain AS (SELECT folds.fold, v_all - coalesce(n_excl, 0) AS v_train
       |  FROM folds CROSS JOIN vall
       |  LEFT JOIN nexcl ON nexcl.fold = folds.fold),
       |dfl AS MATERIALIZED (SELECT fold, lang AS label, count(*)::BIGINT AS nd
       |  FROM f GROUP BY 1, 2),
       |ndg AS (SELECT label, sum(nd)::BIGINT AS ndg FROM dfl GROUP BY 1),
       |ndtot AS (SELECT fold,
       |  (SELECT sum(nd) FROM dfl) - sum(nd) AS nd_train_tot FROM dfl GROUP BY fold),
       |priors AS (SELECT folds.fold, ndg.label,
       |  round(ln((ndg.ndg - coalesce(dfl.nd, 0))::DOUBLE /
       |    ndtot.nd_train_tot::DOUBLE), 9)::DECIMAL(18,9) AS prior
       |  FROM folds CROSS JOIN ndg
       |  LEFT JOIN dfl ON dfl.fold = folds.fold AND dfl.label = ndg.label
       |  JOIN ndtot ON ndtot.fold = folds.fold),
       |labels AS (SELECT DISTINCT lang AS label FROM documents),
       |grid AS MATERIALIZED (SELECT g.token, l.label, cg.cg FROM gtok g
       |  CROSS JOIN labels l
       |  LEFT JOIN cg ON cg.token = g.token AND cg.label = l.label),
       |tfr AS MATERIALIZED (SELECT doc_id, fold, token, count(*)::BIGINT AS tf
       |  FROM tok GROUP BY 1, 2, 3),
       |sc AS (SELECT tfr.doc_id, tfr.fold, grid.label,
       |  sum(tfr.tf::DECIMAL(10,0) *
       |    round(ln((coalesce(grid.cg, 0) - coalesce(cf.c, 0) + 1)::DOUBLE /
       |      (nt_train.nt_train + vtrain.v_train)::DOUBLE), 9)::DECIMAL(18,9)) AS s
       |  FROM tfr JOIN grid ON grid.token = tfr.token
       |  LEFT JOIN cf ON cf.fold = tfr.fold AND cf.label = grid.label
       |    AND cf.token = tfr.token
       |  JOIN nt_train ON nt_train.fold = tfr.fold AND nt_train.label = grid.label
       |  JOIN vtrain ON vtrain.fold = tfr.fold
       |  GROUP BY 1, 2, 3),
       |scored AS (SELECT sc.doc_id, sc.fold, sc.label, sc.s + priors.prior AS score
       |  FROM sc JOIN priors ON priors.fold = sc.fold AND priors.label = sc.label),
       |best AS (SELECT doc_id, label AS predicted FROM (SELECT doc_id, label, score,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rk
       |  FROM scored) WHERE rk = 1)
       |SELECT f.fold, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN best.predicted = f.lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |  round(sum(CASE WHEN best.predicted = f.lang THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE, 5) AS accuracy
       |FROM f LEFT JOIN best USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Embedding-space cluster outliers — twin of
    * Similarity.clusterOutliersFrom over the shared k-means
    * assignment: exact decimal moments, one double mean/std
    * expression per cluster, rounded z, lower-tail filter.
    */
  def clusterOutliers(nlist: Int, refine: Int, zThresh: Double): String =
    s"""WITH ${kmeansAssignCtes(nlist, refine)},
       |st AS (SELECT centroid_id, count(*)::BIGINT AS n,
       |  sum(cscore::DECIMAL(18,9)) AS s1,
       |  sum(cscore::DECIMAL(18,9) * cscore::DECIMAL(18,9)) AS s2
       |  FROM assigned GROUP BY 1),
       |ms AS (SELECT centroid_id, s1::DOUBLE / n AS mean,
       |  sqrt(greatest((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / n, 0.0)) AS std
       |  FROM st)
       |SELECT a.vec_id, a.centroid_id AS cluster_id, a.cscore,
       |  round((a.cscore - ms.mean) / ms.std, 5) AS z
       |FROM assigned a JOIN ms USING (centroid_id)
       |WHERE ms.std > 0 AND round((a.cscore - ms.mean) / ms.std, 5) <= -$zThresh
       |ORDER BY vec_id""".stripMargin

  /** FPR-calibrated gate thresholds — twin of Eval.gateThresholds
    * over the quality blend vs is-`targetLang`: identical grid
    * cumulatives, α cross, min-threshold pick, joined-back rates.
    */
  def gateThresholds(targetLang: String, alphas: Seq[Double]): String = {
    val values = alphas.map(a => s"(${a}::DOUBLE)").mkString(", ")
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, t, text FROM toks JOIN documents USING (doc_id)),
       |q AS (SELECT lang, $qualityScoreSql AS s FROM d),
       |sc AS (SELECT s,
       |  sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END)::BIGINT AS np,
       |  (count(*) - sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END))::BIGINT AS nq
       |  FROM q GROUP BY s),
       |tot AS (SELECT sum(np)::BIGINT AS np_all, sum(nq)::BIGINT AS nq_all FROM sc),
       |c AS (SELECT s,
       |  sum(np) OVER (ORDER BY s DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
       |  sum(nq) OVER (ORDER BY s DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
       |  FROM sc),
       |r AS (SELECT s, cq::DOUBLE / nq_all::DOUBLE AS fpr,
       |  cp::DOUBLE / np_all::DOUBLE AS tpr FROM c CROSS JOIN tot),
       |av AS (SELECT * FROM (VALUES $values) a(alpha)),
       |best AS (SELECT alpha, min(s) AS threshold
       |  FROM r CROSS JOIN av WHERE fpr <= alpha GROUP BY alpha)
       |SELECT alpha, threshold, round(r.fpr, 5) AS fpr, round(r.tpr, 5) AS tpr
       |FROM best JOIN r ON r.s = best.threshold ORDER BY alpha""".stripMargin
  }

  /** Per-type daily-count autocorrelation — twin of
    * Events.dailyAutocorrelation: densified day grid, quantized
    * deviations, exact decimal lag sums.
    */
  def dailyAutocorrelation(lags: Seq[Int]): String = {
    val lagCols = lags.map(k =>
      s"lag(dev, $k) OVER (PARTITION BY event_type ORDER BY day_num) AS dev$k")
      .mkString(", ")
    val rCols = lags.map(k =>
      s"CASE WHEN sum(dev * dev) > 0 THEN round(sum(dev * dev$k)::DOUBLE / sum(dev * dev)::DOUBLE, 5) END AS r_lag$k")
      .mkString(",\n  ")
    s"""WITH e AS (SELECT event_type,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num
       |  FROM events WHERE ts IS NOT NULL),
       |daily AS (SELECT event_type, day_num, count(*)::BIGINT AS n FROM e GROUP BY 1, 2),
       |spans AS (SELECT event_type, min(day_num) AS d0, max(day_num) AS d1
       |  FROM daily GROUP BY 1),
       |dense AS (SELECT event_type,
       |  d0 + unnest(range(0, d1 - d0 + 1)) AS day_num FROM spans),
       |dn AS (SELECT dense.event_type, dense.day_num, coalesce(daily.n, 0) AS n
       |  FROM dense LEFT JOIN daily USING (event_type, day_num)),
       |st AS (SELECT event_type, count(*)::BIGINT AS n_days, sum(n)::BIGINT AS tot
       |  FROM dn GROUP BY 1),
       |dv AS (SELECT dn.event_type, st.n_days, day_num,
       |  round(n::DOUBLE - tot::DOUBLE / n_days, 6)::DECIMAL(18,6) AS dev
       |  FROM dn JOIN st USING (event_type)),
       |lg AS (SELECT event_type, n_days, dev, $lagCols FROM dv)
       |SELECT event_type, n_days,
       |  $rCols
       |FROM lg GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** Markov removal-effect attribution — twin of
    * Attribution.markovRemovalEffects: identical journey windows,
    * identical round-9 probabilities, and the SAME `iters` unrolled
    * quantized value-iteration rounds (exact decimal products/sums,
    * HALF_UP at 9 each round — the trajectory, not just the limit, is
    * the contract). MATERIALIZED per round (the bpeEncode lesson);
    * each round's state is a (scenarios+1)×states relation, dozens of
    * rows.
    */
  def markovAttribution(conversionType: String, iters: Int): String = {
    val zero = "0.0::DECIMAL(18,9)"
    val rounds = (1 to iters).map { r =>
      s"""x$r AS MATERIALIZED (SELECT sc.sc, p.f AS s,
         |  round(sum(p.p * (CASE WHEN p.t = sc.sc THEN $zero
         |    WHEN p.t = 'CONV' THEN 1.0::DECIMAL(18,9)
         |    WHEN p.t = 'NULL' THEN $zero
         |    ELSE coalesce(xp.x, $zero) END)), 9)::DECIMAL(18,9) AS x
         |  FROM scen sc CROSS JOIN p
         |  LEFT JOIN x${r - 1} xp ON xp.sc = sc.sc AND xp.s = p.t
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id,
       |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
       |  CASE WHEN event_type = '$conversionType' THEN 'CONV'
       |    ELSE event_type END AS st FROM events),
       |w AS (SELECT user_id, event_id, ts_us, st,
       |  lag(st) OVER u AS prev_st,
       |  coalesce(sum(CASE WHEN st = 'CONV' THEN 1 ELSE 0 END) OVER
       |    (u ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid,
       |  lead(st) OVER u AS next_st
       |  FROM e WINDOW u AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |w2 AS (SELECT *, coalesce(lag(jid) OVER
       |  (PARTITION BY user_id ORDER BY ts_us, event_id), 0) AS prev_jid FROM w),
       |tr AS (
       |  SELECT prev_st AS f, st AS t FROM w2
       |    WHERE prev_st IS NOT NULL AND prev_jid = jid
       |  UNION ALL SELECT 'START', st FROM w2
       |    WHERE prev_st IS NULL OR prev_jid <> jid
       |  UNION ALL SELECT st, 'NULL' FROM w2
       |    WHERE next_st IS NULL AND st <> 'CONV'),
       |tm AS MATERIALIZED (SELECT f, t, count(*)::BIGINT AS n FROM tr GROUP BY 1, 2),
       |tt AS (SELECT f, sum(n)::BIGINT AS tot FROM tm GROUP BY 1),
       |p AS MATERIALIZED (SELECT f, t,
       |  round(n::DOUBLE / tot::DOUBLE, 9)::DECIMAL(18,9) AS p
       |  FROM tm JOIN tt USING (f)),
       |scen AS MATERIALIZED (SELECT 'BASE' AS sc
       |  UNION ALL SELECT DISTINCT f FROM tm WHERE f <> 'START'),
       |states AS (SELECT DISTINCT f AS s FROM tm),
       |x0 AS MATERIALIZED (SELECT sc, s, $zero AS x FROM scen CROSS JOIN states),
       |$rounds,
       |base AS (SELECT x FROM x$iters WHERE sc = 'BASE' AND s = 'START'),
       |rm AS (SELECT sc AS channel, x FROM x$iters
       |  WHERE sc <> 'BASE' AND s = 'START'),
       |re AS (SELECT channel,
       |  round(1.0 - rm.x::DOUBLE / base.x::DOUBLE, 9)::DECIMAL(18,9) AS re
       |  FROM rm CROSS JOIN base WHERE base.x > 0),
       |tot2 AS (SELECT sum(re) AS t2 FROM re)
       |SELECT channel, round(re::DOUBLE, 5) AS removal_effect,
       |  CASE WHEN t2 > 0 THEN round(re::DOUBLE / t2::DOUBLE, 5) END
       |    AS attribution_share
       |FROM re CROSS JOIN tot2 ORDER BY channel""".stripMargin
  }

  /** A/B assignment + SRM report — twin of Sampling.abSrmReport over
    * events.user_id: identical md5-bucket fraction, identical
    * cumulative-bound CASE order, identical χ² shapes.
    */
  def abSrm(variants: Seq[(String, Double)], salt: String): String = {
    val cum = variants.map(_._2).scanLeft(0.0)(_ + _).tail.init :+ 1.0
    val cases = variants.map(_._1).zip(cum).init
      .map { case (n, hi) => s"WHEN f < $hi THEN '$n'" }.mkString(" ")
    val values = variants
      .map { case (n, w) => s"('$n', ${w}::DOUBLE)" }.mkString(", ")
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |a AS (SELECT cast(cast('0x' || substr(md5('$salt|' || user_id), 1, 8)
       |  AS BIGINT) AS DOUBLE) / 4294967296.0 AS f FROM u),
       |v AS (SELECT CASE $cases ELSE '${variants.last._1}' END AS variant FROM a),
       |c AS (SELECT variant, count(*)::BIGINT AS n_units FROM v GROUP BY 1),
       |w AS (SELECT * FROM (VALUES $values) t(variant, expected_frac)),
       |tot AS (SELECT sum(n_units)::BIGINT AS n FROM c)
       |SELECT w.variant, coalesce(c.n_units, 0)::BIGINT AS n_units,
       |  w.expected_frac,
       |  round(coalesce(c.n_units, 0)::DOUBLE / n::DOUBLE, 5) AS observed_frac,
       |  round((coalesce(c.n_units, 0)::DOUBLE - expected_frac * n::DOUBLE) *
       |    (coalesce(c.n_units, 0)::DOUBLE - expected_frac * n::DOUBLE) /
       |    (expected_frac * n::DOUBLE), 5) AS chi2_contrib
       |FROM w LEFT JOIN c USING (variant) CROSS JOIN tot
       |ORDER BY variant""".stripMargin
  }

  /** Neyman allocation — twin of Sampling.neymanAllocation over
    * events.value per event_type: exact decimal moments, the same
    * double σ/weight/floor shapes.
    */
  def neymanAllocation(budget: Long): String =
    s"""WITH st AS (SELECT event_type,
       |  count(*)::BIGINT AS n_rows,
       |  sum(value::DECIMAL(18,6)) AS s1,
       |  sum(value::DECIMAL(18,6) * value::DECIMAL(18,6)) AS s2
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |w AS (SELECT event_type, n_rows,
       |  sqrt(greatest((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_rows)
       |    / n_rows, 0.0)) AS std
       |  FROM st),
       |ws AS (SELECT event_type, n_rows, std, n_rows::DOUBLE * std AS wt FROM w),
       |tot AS (SELECT sum(wt) AS wsum FROM ws)
       |SELECT event_type, n_rows, round(std, 5) AS sigma,
       |  cast(floor(${budget}.0 * (wt / wsum)) AS BIGINT) AS n_alloc
       |FROM ws CROSS JOIN tot WHERE wsum > 0 ORDER BY event_type""".stripMargin

  /** U-shaped multi-touch attribution — twin of
    * Events.uShapedAttribution: the same forward as-of union
    * (first_value ignore-nulls over CURRENT ROW → FOLLOWING), journey
    * windows, and 40/20/40 weight CASE in the identical order.
    */
  def uShapedAttribution(conversionType: String, touchType: String): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, value,
       |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
       |t AS (SELECT user_id, event_id AS touch_id, ts_us AS touch_us
       |  FROM e WHERE event_type = '$touchType'),
       |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_us, value
       |  FROM e WHERE event_type = '$conversionType'),
       |u AS (SELECT user_id, touch_us AS ts, 0 AS side, touch_id AS tie,
       |    touch_id, touch_us, NULL::BIGINT AS cid FROM t
       |  UNION ALL SELECT user_id, conv_us, 1, conv_id, NULL, NULL, conv_id
       |    FROM c),
       |m AS (SELECT *, first_value(cid IGNORE NULLS) OVER
       |  (PARTITION BY user_id ORDER BY ts, side, tie
       |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS j FROM u),
       |jny AS (SELECT user_id, touch_id, touch_us, j AS conv_id
       |  FROM m WHERE side = 0 AND j IS NOT NULL),
       |p AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS nt,
       |  row_number() OVER (PARTITION BY conv_id ORDER BY touch_us, touch_id)
       |    AS pos FROM jny)
       |SELECT p.conv_id, p.user_id, p.touch_id AS touch_event_id,
       |  nt::BIGINT AS n_touches, cast(pos AS INT) AS position,
       |  round(c.value * CASE WHEN nt = 1 THEN 1.0 WHEN nt = 2 THEN 0.5
       |    WHEN pos = 1 OR pos = nt THEN 0.4
       |    ELSE 0.2 / (nt - 2) END, 5) AS credit
       |FROM p JOIN c USING (conv_id) ORDER BY conv_id, position""".stripMargin

  /** Per-campaign session reach — twin of Events.campaignOverlap.
    * The bucket expansion is a PLAN device; row semantics are the
    * plain interval-overlap theta join this SQL spells directly
    * (pairs identical by the canonical-bucket exactly-once rule).
    */
  def campaignOverlap(campaigns: Seq[(Int, Long, Long)],
      gapSeconds: Long): String = {
    val values = campaigns
      .map { case (id, lo, hi) => s"($id, ${lo}::BIGINT, ${hi}::BIGINT)" }
      .mkString(", ")
    val gapUs = gapSeconds * 1000000L
    s"""WITH e AS (SELECT user_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
       |l AS (SELECT user_id, ts_us,
       |  lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_us FROM e),
       |b AS (SELECT user_id, ts_us,
       |  CASE WHEN prev_us IS NULL OR ts_us - prev_us > $gapUs THEN 1 ELSE 0 END AS is_break FROM l),
       |s AS (SELECT user_id, ts_us, sum(is_break) OVER
       |  (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b),
       |sess AS (SELECT user_id, min(ts_us)::BIGINT AS start_us,
       |  (max(ts_us) + 1)::BIGINT AS end_x_us FROM s GROUP BY user_id, session_seq),
       |camp AS (SELECT * FROM (VALUES $values) c(campaign_id, c_lo_us, c_hi_us)),
       |ov AS (SELECT campaign_id, user_id,
       |  least(end_x_us, c_hi_us) - greatest(start_us, c_lo_us) AS d
       |  FROM sess JOIN camp ON start_us < c_hi_us AND c_lo_us < end_x_us)
       |SELECT campaign_id, count(*)::BIGINT AS n_sessions,
       |  count(DISTINCT user_id)::BIGINT AS n_users,
       |  sum(d)::BIGINT AS total_overlap_us
       |FROM ov GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DAU / trailing-window distinct actives — twin of
    * Events.activeUsers: dedup (user, day), bounded day explode,
    * per-day counts, one ratio division.
    */
  def activeUsers(windowDays: Int): String =
    s"""WITH ud AS (SELECT DISTINCT user_id AS u,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num
       |  FROM events WHERE ts IS NOT NULL),
       |dau AS (SELECT day_num, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
       |wx AS (SELECT DISTINCT u, day_num + d AS day_num
       |  FROM ud, range(0, $windowDays) t(d)),
       |wau AS (SELECT day_num, count(*)::BIGINT AS wau FROM wx GROUP BY 1)
       |SELECT day_num, dau, wau,
       |  round(dau::DOUBLE / wau::DOUBLE, 5) AS stickiness
       |FROM dau JOIN wau USING (day_num) ORDER BY day_num""".stripMargin

  /** Top-k 3-step event paths — twin of Events.eventPaths: two leads
    * over the (ts_us, event_id) user window, count, deterministic
    * (n desc, path) top-k.
    */
  def eventPaths(k: Int): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
       |l AS (SELECT event_type AS step1,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS step2,
       |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS step3
       |  FROM e),
       |p AS (SELECT step1, step2, step3, count(*)::BIGINT AS n_paths
       |  FROM l WHERE step3 IS NOT NULL GROUP BY 1, 2, 3)
       |SELECT step1, step2, step3, n_paths FROM p
       |ORDER BY n_paths DESC, step1, step2, step3 LIMIT $k""".stripMargin

  /** Per-class discriminative tokens — twin of
    * TextStats.discriminativeTokens: distinct-token postings, bounded
    * contingency roll-ups, the identical left-associated double χ²
    * expression, rank over the ROUNDED statistic.
    */
  def discriminativeTokens(k: Int): String = {
    val det = "(a::DOUBLE * (n_all::DOUBLE - n_label::DOUBLE - (df::DOUBLE - a::DOUBLE)) - " +
      "(df::DOUBLE - a::DOUBLE) * (n_label::DOUBLE - a::DOUBLE))"
    s"""WITH $toksCte,
       |pres AS (SELECT d.lang AS label, unnest(list_distinct(t.t)) AS token
       |  FROM toks t JOIN documents d USING (doc_id)),
       |atl AS (SELECT label, token, count(*)::BIGINT AS a FROM pres GROUP BY 1, 2),
       |dft AS (SELECT token, sum(a)::BIGINT AS df FROM atl GROUP BY 1),
       |nl AS (SELECT lang AS label, count(*)::BIGINT AS n_label
       |  FROM documents GROUP BY 1),
       |na AS (SELECT count(*)::BIGINT AS n_all FROM documents),
       |sc AS (SELECT label, token, a,
       |  round(n_all::DOUBLE * $det * $det /
       |    (df::DOUBLE * (n_all::DOUBLE - df::DOUBLE) * n_label::DOUBLE *
       |      (n_all::DOUBLE - n_label::DOUBLE)), 5) AS chi2
       |  FROM atl JOIN dft USING (token) JOIN nl USING (label) CROSS JOIN na
       |  WHERE n_all > df AND n_all > n_label),
       |r AS (SELECT label, token, a, chi2, row_number() OVER
       |  (PARTITION BY label ORDER BY chi2 DESC, token) AS rank FROM sc)
       |SELECT label, cast(rank AS INT) AS rank, token, a AS n_docs_with, chi2
       |FROM r WHERE rank <= $k ORDER BY label, rank""".stripMargin
  }

  /** Per-pack fill report — twin of Packing.packEfficiency over the
    * packSequences coordinates.
    */
  def packEfficiency(budget: Long): String =
    s"""WITH $toksCte,
       |c AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
       |  (sum(len(t)) OVER (ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(t))::BIGINT AS s
       |  FROM toks),
       |p AS (SELECT doc_id, n_tokens, (s // $budget)::BIGINT AS pack_id,
       |  (s % $budget)::BIGINT AS pack_offset FROM c)
       |SELECT pack_id, count(*)::BIGINT AS n_docs_started,
       |  sum(n_tokens)::BIGINT AS tokens_started,
       |  sum(CASE WHEN pack_offset + n_tokens > $budget THEN 1 ELSE 0 END)::BIGINT
       |    AS n_straddlers
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-document boilerplate contamination — twin of
    * TextStats.boilerplateReport: distinct bigram shingles (the
    * Jaccard family's degenerate-window convention), per-(source,
    * shingle) document frequency, integer cross-multiplied percent
    * threshold, per-doc fraction.
    */
  def boilerplate(n: Int, minDocPct: Int): String = {
    val hi = n - 1 // window end offset: t[i : i+n-1] is an n-gram
    s"""WITH $toksCte,
       |sh2 AS (SELECT doc_id, source,
       |  list_distinct(list_transform(range(1, greatest(len(t) - $hi, 1) + 1),
       |    i -> array_to_string(t[i:i+$hi], ' '))) AS s
       |  FROM toks JOIN documents USING (doc_id)),
       |inv AS (SELECT source, doc_id, unnest(s) AS shingle FROM sh2),
       |nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
       |bp AS (SELECT source, shingle FROM
       |  (SELECT source, shingle, count(*)::BIGINT AS df FROM inv GROUP BY 1, 2)
       |  JOIN nd USING (source) WHERE df * 100 >= n_docs * $minDocPct),
       |per AS (SELECT i.source, i.doc_id, count(*)::BIGINT AS n_shingles,
       |  sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate
       |  FROM inv i LEFT JOIN bp b ON i.source = b.source AND i.shingle = b.shingle
       |  GROUP BY 1, 2)
       |SELECT doc_id, source, n_shingles, n_boilerplate,
       |  round(n_boilerplate::DOUBLE / n_shingles::DOUBLE, 5) AS boilerplate_frac
       |FROM per ORDER BY doc_id""".stripMargin
  }

  /** Exact heavy hitters — twin of Stats.heavyHitters. The oracle is
    * the brute-force definition (full token group-by + integer
    * threshold); the Spark side's Misra–Gries pass only prunes WORK,
    * so both must produce the identical set.
    */
  def heavyHitters(capacity: Int): String =
    s"""WITH tk AS (SELECT unnest(list_filter(string_split(text, ' '),
       |    x -> x <> '')) AS token FROM documents),
       |tot AS (SELECT count(*)::BIGINT AS n FROM tk)
       |SELECT token, count(*)::BIGINT AS n_occurrences
       |FROM tk CROSS JOIN tot GROUP BY token, n
       |HAVING count(*) * ${capacity + 1} > n
       |ORDER BY n_occurrences DESC, token""".stripMargin

  /** Lorenz/Gini — twin of Stats.lorenzGini over per-customer order
    * totals: identical value-counts grid, rank-sum contribution
    * v·c·(2C+c−n) in exact decimal/integer arithmetic, range-end
    * decile ⌈cum·10/n⌉, one rounded float division per cell. The
    * oracle's plain cumulative window IS the single-sort shape the
    * Spark side's sharded cumsum exists to avoid.
    */
  val giniRevenue: String =
    """WITH rev AS (SELECT o_custkey,
      |  sum(o_totalprice::DECIMAL(18,6))::DECIMAL(18,6) AS v
      |  FROM orders GROUP BY 1),
      |vc AS (SELECT v, count(*)::BIGINT AS c FROM rev GROUP BY 1),
      |tot AS (SELECT sum(c)::BIGINT AS n, sum(v * c) AS sx FROM vc),
      |cm AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cum FROM vc),
      |ct AS (SELECT v, c, cum, cum - c AS below, n, sx
      |  FROM cm CROSS JOIN tot),
      |nm AS (SELECT sum(v * (c * (2 * below + c - n))) AS gnum,
      |  max(n) AS n2, max(sx) AS sx2 FROM ct),
      |gn AS (SELECT round(gnum::DOUBLE / (n2::DOUBLE * sx2::DOUBLE), 5)
      |  AS gini FROM nm),
      |dc AS (SELECT ((cum * 10 + n - 1) // n)::INT AS decile, c, v, sx FROM ct),
      |pd AS (SELECT decile, sum(c)::BIGINT AS n_rows, sum(v * c) AS dx,
      |  max(sx) AS sx FROM dc GROUP BY 1)
      |SELECT decile, n_rows,
      |  round(dx::DOUBLE / sx::DOUBLE, 5) AS value_share,
      |  round((sum(dx) OVER (ORDER BY decile))::DOUBLE / sx::DOUBLE, 5)
      |    AS cum_value_share,
      |  gini
      |FROM pd CROSS JOIN gn ORDER BY decile""".stripMargin

  /** Benford first-digit audit — twin of Stats.benfordReport: same
    * cent-quantized integer digit extraction, the same 9-decimal
    * quantization of log₁₀(1+1/d) BEFORE the chi-square composition.
    */
  val benfordOrders: String =
    """WITH d AS (SELECT substr(cast(cast(round(o_totalprice * 100) AS BIGINT)
      |    AS VARCHAR), 1, 1)::INT AS digit FROM orders),
      |c AS (SELECT digit, count(*)::BIGINT AS n FROM d
      |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
      |tot AS (SELECT sum(n)::BIGINT AS nn FROM c),
      |g AS (SELECT unnest(range(1, 10))::INT AS digit),
      |e AS (SELECT g.digit, coalesce(c.n, 0)::BIGINT AS n, nn,
      |  round(log10(1.0 + 1.0 / g.digit::DOUBLE), 9) AS ef
      |  FROM g LEFT JOIN c USING (digit) CROSS JOIN tot)
      |SELECT digit, n,
      |  round(n::DOUBLE / nn::DOUBLE, 5) AS observed_frac,
      |  ef AS expected_frac,
      |  round((n::DOUBLE - ef * nn::DOUBLE) * (n::DOUBLE - ef * nn::DOUBLE)
      |    / (ef * nn::DOUBLE), 5) AS chi2_contrib
      |FROM e ORDER BY digit""".stripMargin

  /** CUSUM changepoint — twin of Stats.cusumChangepoint: the
    * all-integer scaled statistic Σ(cᵢ·D − T) and its argmax day set.
    */
  val cusumDaily: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |  count(*)::BIGINT AS n_events FROM events GROUP BY 1),
      |tot AS (SELECT count(*)::BIGINT AS d, sum(n_events)::BIGINT AS t
      |  FROM daily),
      |cs AS (SELECT day, n_events,
      |  (sum(n_events * d - t) OVER (ORDER BY day))::BIGINT AS cusum_scaled
      |  FROM daily CROSS JOIN tot),
      |mx AS (SELECT max(abs(cusum_scaled)) AS m FROM cs)
      |SELECT day, n_events, cusum_scaled,
      |  (abs(cusum_scaled) = m) AS is_changepoint
      |FROM cs CROSS JOIN mx ORDER BY day""".stripMargin

  /** Kaplan–Meier — twin of Stats.kaplanMeier: same first-start /
    * first-qualifying-end per unit, censoring at the corpus horizon,
    * events-and-censorings-leave-after-t risk sets, and the
    * ln-quantized DECIMAL(18,9) survival accumulation.
    */
  def kaplanMeier(startType: String, endType: String): String =
    s"""WITH st AS (SELECT user_id, min(ts) AS t0 FROM events
       |  WHERE event_type = '$startType' GROUP BY 1),
       |en AS (SELECT user_id, ts AS te FROM events
       |  WHERE event_type = '$endType'),
       |hz AS (SELECT max(ts) AS tmax FROM events),
       |fe AS (SELECT st.user_id, t0,
       |  min(CASE WHEN te >= t0 THEN te END) AS tc
       |  FROM st LEFT JOIN en ON st.user_id = en.user_id GROUP BY 1, 2),
       |dur AS (SELECT CASE WHEN tc IS NOT NULL
       |    THEN datediff('day', CAST(t0 AS DATE), CAST(tc AS DATE))
       |    ELSE datediff('day', CAST(t0 AS DATE), CAST(tmax AS DATE))
       |  END::INT AS t, (tc IS NOT NULL) AS ev FROM fe CROSS JOIN hz),
       |grid AS (SELECT t,
       |  sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_events,
       |  sum(CASE WHEN ev THEN 0 ELSE 1 END)::BIGINT AS n_censored
       |  FROM dur GROUP BY 1),
       |nt AS (SELECT count(*)::BIGINT AS n FROM dur),
       |rk AS (SELECT t, n_events, n_censored,
       |  (n - coalesce(sum(n_events + n_censored) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
       |    AS n_at_risk
       |  FROM grid CROSS JOIN nt),
       |lf AS (SELECT t, n_at_risk, n_events, n_censored,
       |  CASE WHEN n_events = 0 OR n_events = n_at_risk THEN 0::DECIMAL(18,9)
       |    ELSE round(ln((n_at_risk - n_events)::DOUBLE /
       |      n_at_risk::DOUBLE), 9)::DECIMAL(18,9) END AS f,
       |  CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END AS dd FROM rk)
       |SELECT t, n_at_risk, n_events, n_censored,
       |  CASE WHEN max(dd) OVER (ORDER BY t) = 1 THEN 0.0
       |    ELSE round(exp((sum(f) OVER (ORDER BY t))::DOUBLE), 5)
       |  END AS survival
       |FROM lf ORDER BY t""".stripMargin

  /** CUPED — twin of Stats.cupedReport: the abSrm md5 bucket
    * convention, per-unit pre/post sums pinned to DECIMAL(18,6),
    * cross-products in DECIMAL(38,12), and the identical IEEE double
    * dag for θ, ρ² and the adjusted means (the ROUNDED θ and grand
    * mean feed mean_adj, exactly as the Spark side composes them).
    */
  def cuped(splitTs: String, variants: Seq[(String, Double)],
      salt: String): String = {
    val cum = variants.map(_._2).scanLeft(0.0)(_ + _).tail.init :+ 1.0
    val cases = variants.map(_._1).zip(cum).init
      .map { case (nm, hi) => s"WHEN f < $hi THEN '$nm'" }.mkString(" ")
    s"""WITH per AS (SELECT user_id,
       |  sum((CASE WHEN ts < TIMESTAMP '$splitTs' THEN value ELSE 0.0
       |    END)::DECIMAL(18,6))::DECIMAL(18,6) AS x,
       |  sum((CASE WHEN ts >= TIMESTAMP '$splitTs' THEN value ELSE 0.0
       |    END)::DECIMAL(18,6))::DECIMAL(18,6) AS y
       |  FROM events GROUP BY 1),
       |a AS (SELECT x, y,
       |  CASE $cases ELSE '${variants.last._1}' END AS variant FROM (
       |  SELECT x, y, cast(cast('0x' || substr(md5('$salt|' || user_id), 1, 8)
       |    AS BIGINT) AS DOUBLE) / 4294967296.0 AS f FROM per)),
       |g AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
       |  sum(x::DECIMAL(19,6) * y::DECIMAL(19,6)) AS sxy,
       |  sum(x::DECIMAL(19,6) * x::DECIMAL(19,6)) AS sxx,
       |  sum(y::DECIMAL(19,6) * y::DECIMAL(19,6)) AS syy FROM a),
       |gl AS (SELECT
       |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
       |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 5) AS theta,
       |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) *
       |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
       |    ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
       |     (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 5)
       |    AS var_reduction,
       |  round(sx::DOUBLE / n::DOUBLE, 5) AS mx FROM g),
       |arm AS (SELECT variant, count(*)::BIGINT AS n_units,
       |  sum(x) AS ax, sum(y) AS ay FROM a GROUP BY 1)
       |SELECT variant, n_units,
       |  round(ay::DOUBLE / n_units::DOUBLE, 5) AS mean_post,
       |  round(ay::DOUBLE / n_units::DOUBLE -
       |    theta * (ax::DOUBLE / n_units::DOUBLE - mx), 5) AS mean_adj,
       |  theta, var_reduction
       |FROM arm CROSS JOIN gl ORDER BY variant""".stripMargin
  }

  /** Isotonic calibration — twin of Eval.isotonicCalibration over the
    * quality blend vs the is-English label: identical integer bin
    * assignment (5-decimal score quantization, s₅·bins div 10⁵), the
    * same minimax f(i) = max_{j≤i} min_{k≥i} mean(j..k) over the
    * cumulative-bin frame, one int/int double division per mean.
    */
  def isotonicCalibration(targetLang: String, bins: Int): String =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, lang, t, text FROM toks JOIN documents USING (doc_id)),
       |q AS (SELECT lang, $qualityScoreSql AS qs FROM d),
       |g0 AS (SELECT least((round(qs * 100000)::BIGINT * $bins) // 100000,
       |    ${bins - 1}) AS bin,
       |  CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END AS y FROM q),
       |b AS (SELECT bin, count(*)::BIGINT AS w, sum(y)::BIGINT AS s
       |  FROM g0 GROUP BY 1),
       |c AS (SELECT bin, w, s, sum(w) OVER (ORDER BY bin)::BIGINT AS cw,
       |  sum(s) OVER (ORDER BY bin)::BIGINT AS cs FROM b),
       |p AS (SELECT l.bin AS j, l.cw - l.w AS pw, l.cs - l.s AS ps,
       |  r.bin AS k, r.cw AS kw, r.cs AS ks
       |  FROM c l JOIN c r ON l.bin <= r.bin),
       |m AS (SELECT j, k, (ks - ps)::DOUBLE / (kw - pw)::DOUBLE AS mean
       |  FROM p),
       |t3 AS (SELECT i.bin AS i, m.j, m.mean FROM m JOIN c i
       |  ON m.j <= i.bin AND i.bin <= m.k),
       |f1 AS (SELECT i, j, min(mean) AS mn FROM t3 GROUP BY 1, 2),
       |f2 AS (SELECT i, max(mn) AS fit FROM f1 GROUP BY 1)
       |SELECT c.bin::INT AS bin, c.w AS n,
       |  round(c.s::DOUBLE / c.w::DOUBLE, 5) AS frac_pos,
       |  round(f2.fit, 5) AS calibrated
       |FROM c JOIN f2 ON c.bin = f2.i ORDER BY bin""".stripMargin

  /** Closed-form OLS — twin of Stats.olsRegression over lineitem
    * (price ~ quantity + discount per return flag): exact decimal
    * moments with (19,6)-prewidened products, the identical IEEE
    * double dag for the centered moments, Cramer solve and R².
    */
  val olsLineitem: String =
    """WITH g AS (SELECT l_returnflag, count(*)::BIGINT AS n,
      |  sum(l_quantity::DECIMAL(18,6)) AS s1,
      |  sum(l_discount::DECIMAL(18,6)) AS s2,
      |  sum(l_extendedprice::DECIMAL(18,6)) AS sy,
      |  sum((l_quantity::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_quantity::DECIMAL(18,6))::DECIMAL(19,6)) AS s11,
      |  sum((l_discount::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_discount::DECIMAL(18,6))::DECIMAL(19,6)) AS s22,
      |  sum((l_quantity::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_discount::DECIMAL(18,6))::DECIMAL(19,6)) AS s12,
      |  sum((l_quantity::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_extendedprice::DECIMAL(18,6))::DECIMAL(19,6)) AS s1y,
      |  sum((l_discount::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_extendedprice::DECIMAL(18,6))::DECIMAL(19,6)) AS s2y,
      |  sum((l_extendedprice::DECIMAL(18,6))::DECIMAL(19,6) *
      |      (l_extendedprice::DECIMAL(18,6))::DECIMAL(19,6)) AS syy
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_returnflag, n,
      |  n::DOUBLE * s11::DOUBLE - s1::DOUBLE * s1::DOUBLE AS sqq,
      |  n::DOUBLE * s22::DOUBLE - s2::DOUBLE * s2::DOUBLE AS sdd,
      |  n::DOUBLE * s12::DOUBLE - s1::DOUBLE * s2::DOUBLE AS sqd,
      |  n::DOUBLE * s1y::DOUBLE - s1::DOUBLE * sy::DOUBLE AS sqy,
      |  n::DOUBLE * s2y::DOUBLE - s2::DOUBLE * sy::DOUBLE AS sdy,
      |  n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS syyc,
      |  s1::DOUBLE AS s1d, s2::DOUBLE AS s2d, sy::DOUBLE AS syd,
      |  n::DOUBLE AS nd FROM g),
      |k AS (SELECT *, sqq * sdd - sqd * sqd AS det FROM c),
      |b AS (SELECT *, (sqy * sdd - sdy * sqd) / det AS b1,
      |  (sdy * sqq - sqy * sqd) / det AS b2 FROM k)
      |SELECT l_returnflag, n,
      |  CASE WHEN det <> 0 AND syyc <> 0
      |    THEN round((syd - b1 * s1d - b2 * s2d) / nd, 5) END AS b0,
      |  CASE WHEN det <> 0 AND syyc <> 0 THEN round(b1, 5) END AS b1,
      |  CASE WHEN det <> 0 AND syyc <> 0 THEN round(b2, 5) END AS b2,
      |  CASE WHEN det <> 0 AND syyc <> 0
      |    THEN round((b1 * sqy + b2 * sdy) / syyc, 5) END AS r2
      |FROM b ORDER BY l_returnflag""".stripMargin

  /** Zone-map skipping report — twin of ZOrder.skippingReport over
    * events (user_id × day_num): identical pair roll-up, packed
    * linear / Morton keys (the SAME ZOrder.SpreadSteps chain),
    * range-end file rule ⌈cum·F/n⌉, md5-least probe selection, and
    * the interval-hit replay. The oracle's plain cumulative windows
    * are the single-sort shape the Spark side's sharded cumsum
    * avoids.
    */
  def skippingReport(files: Int, probes: Int): String = {
    def spread(e: String): String =
      graft.ext.ZOrder.SpreadSteps.foldLeft(s"($e & 65535)") {
        case (acc, (sh, m)) => s"((($acc | ($acc << $sh)) & $m))"
      }
    s"""WITH p AS (SELECT user_id AS a,
       |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS b,
       |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
       |k AS (SELECT a, b, c,
       |  (((a & 65535) << 16) | (b & 65535)) AS klin,
       |  (${spread("a")} | (${spread("b")} << 1)) AS kz FROM p),
       |tot AS (SELECT sum(c)::BIGINT AS n FROM k),
       |cl AS (SELECT a, b,
       |  (((sum(c) OVER (ORDER BY klin))::BIGINT * $files + n - 1) // n)::INT
       |    AS f FROM k CROSS JOIN tot),
       |cz AS (SELECT a, b,
       |  (((sum(c) OVER (ORDER BY kz))::BIGINT * $files + n - 1) // n)::INT
       |    AS f FROM k CROSS JOIN tot),
       |z AS (SELECT 'linear' AS layout, f, min(a) AS amin, max(a) AS amax,
       |    min(b) AS bmin, max(b) AS bmax FROM cl GROUP BY 2
       |  UNION ALL
       |  SELECT 'zorder', f, min(a), max(a), min(b), max(b)
       |    FROM cz GROUP BY 2),
       |pr AS (
       |  (SELECT 'a_only' AS probe_class, pa, NULL::BIGINT AS pb FROM
       |    (SELECT DISTINCT a AS pa FROM k)
       |    ORDER BY md5('probe|' || pa::VARCHAR), pa LIMIT $probes)
       |  UNION ALL
       |  (SELECT 'b_only', NULL::BIGINT, pb FROM
       |    (SELECT DISTINCT b AS pb FROM k)
       |    ORDER BY md5('probe|' || pb::VARCHAR), pb LIMIT $probes)
       |  UNION ALL
       |  (SELECT 'point', pa, pb FROM
       |    (SELECT DISTINCT a AS pa, b AS pb FROM k)
       |    ORDER BY md5('probe|' || pa::VARCHAR || '|' || pb::VARCHAR),
       |      pa, pb LIMIT $probes)),
       |hits AS (SELECT layout, probe_class,
       |  sum(CASE WHEN (pa IS NULL OR (pa BETWEEN amin AND amax))
       |    AND (pb IS NULL OR (pb BETWEEN bmin AND bmax))
       |    THEN 1 ELSE 0 END)::BIGINT AS scanned
       |  FROM z CROSS JOIN pr GROUP BY 1, 2),
       |nf AS (SELECT layout, count(*)::BIGINT AS n_files FROM z GROUP BY 1),
       |np AS (SELECT probe_class, count(*)::BIGINT AS n_probes
       |  FROM pr GROUP BY 1)
       |SELECT layout, probe_class, n_files, n_probes,
       |  round(scanned::DOUBLE / n_probes::DOUBLE, 5) AS avg_files_scanned,
       |  round(scanned::DOUBLE / (n_probes * n_files)::DOUBLE, 5)
       |    AS scan_frac
       |FROM hits JOIN nf USING (layout) JOIN np USING (probe_class)
       |ORDER BY layout, probe_class""".stripMargin
  }

  /** Log-rank test — twin of Stats.logRank: same md5 cohorts, same
    * first-start / first-qualifying-end durations and censoring, the
    * 9-decimal-quantized hypergeometric expectation/variance terms
    * summed in exact decimal.
    */
  def logRank(startType: String, endType: String, salt: String,
      split: Double): String =
    s"""WITH st AS (SELECT user_id, min(ts) AS t0 FROM events
       |  WHERE event_type = '$startType' GROUP BY 1),
       |en AS (SELECT user_id, ts AS te FROM events
       |  WHERE event_type = '$endType'),
       |hz AS (SELECT max(ts) AS tmax FROM events),
       |fe AS (SELECT st.user_id, t0,
       |  min(CASE WHEN te >= t0 THEN te END) AS tc
       |  FROM st LEFT JOIN en ON st.user_id = en.user_id GROUP BY 1, 2),
       |dur AS (SELECT
       |  CASE WHEN cast(cast('0x' || substr(md5('$salt|' || user_id), 1, 8)
       |      AS BIGINT) AS DOUBLE) / 4294967296.0 < $split
       |    THEN 'a' ELSE 'b' END AS g,
       |  CASE WHEN tc IS NOT NULL
       |    THEN datediff('day', CAST(t0 AS DATE), CAST(tc AS DATE))
       |    ELSE datediff('day', CAST(t0 AS DATE), CAST(tmax AS DATE))
       |  END::INT AS t, (tc IS NOT NULL) AS ev FROM fe CROSS JOIN hz),
       |grid AS (SELECT t,
       |  sum(CASE WHEN ev AND g = 'a' THEN 1 ELSE 0 END)::BIGINT AS da,
       |  sum(CASE WHEN ev AND g = 'b' THEN 1 ELSE 0 END)::BIGINT AS db,
       |  sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END)::BIGINT AS xa,
       |  sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END)::BIGINT AS xb
       |  FROM dur GROUP BY 1),
       |tots AS (SELECT
       |  sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END)::BIGINT AS na0,
       |  sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END)::BIGINT AS nb0 FROM dur),
       |rk0 AS (SELECT t, da, db,
       |  na0 - coalesce(sum(xa) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
       |  nb0 - coalesce(sum(xb) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb,
       |  na0, nb0 FROM grid CROSS JOIN tots),
       |rk AS (SELECT *, na + nb AS n, da + db AS d FROM rk0
       |  WHERE da + db > 0 AND na > 0 AND nb > 0),
       |terms AS (SELECT da, db, na0, nb0,
       |  round(d::DOUBLE * na::DOUBLE / n::DOUBLE, 9)::DECIMAL(18,9) AS e,
       |  CASE WHEN n > 1 THEN round(d::DOUBLE * na::DOUBLE * nb::DOUBLE *
       |      (n - d)::DOUBLE / (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE),
       |      9)::DECIMAL(18,9)
       |    ELSE 0::DECIMAL(18,9) END AS v FROM rk),
       |agg AS (SELECT sum(da)::BIGINT AS d_a, sum(db)::BIGINT AS d_b,
       |  sum(e) AS se, sum(v) AS sv, max(na0) AS n_a, max(nb0) AS n_b
       |  FROM terms)
       |SELECT n_a, n_b, d_a, d_b,
       |  round(se::DOUBLE, 5) AS expected_a,
       |  CASE WHEN sv > 0 THEN round((d_a::DOUBLE - se::DOUBLE) *
       |    (d_a::DOUBLE - se::DOUBLE) / sv::DOUBLE, 5) END AS chi2
       |FROM agg""".stripMargin

  /** Difference-in-differences — twin of Stats.diffInDiff: md5
    * cohorts, pre/post split, exact decimal cell sums, identical
    * mean/DiD composition.
    */
  def diffInDiff(splitTs: String, salt: String, split: Double): String =
    s"""WITH cells AS (SELECT
       |  CASE WHEN cast(cast('0x' || substr(md5('$salt|' || user_id), 1, 8)
       |      AS BIGINT) AS DOUBLE) / 4294967296.0 < $split
       |    THEN 'control' ELSE 'treat' END AS cohort,
       |  CASE WHEN ts < TIMESTAMP '$splitTs' THEN 'pre' ELSE 'post'
       |    END AS period,
       |  value::DECIMAL(18,6) AS v FROM events),
       |g AS (SELECT cohort, period, count(*)::BIGINT AS n_events,
       |  sum(v) AS s FROM cells GROUP BY 1, 2),
       |did AS (SELECT round(
       |  max(CASE WHEN cohort = 'treat' AND period = 'post'
       |    THEN s::DOUBLE / n_events::DOUBLE END) -
       |  max(CASE WHEN cohort = 'treat' AND period = 'pre'
       |    THEN s::DOUBLE / n_events::DOUBLE END) -
       |  (max(CASE WHEN cohort = 'control' AND period = 'post'
       |    THEN s::DOUBLE / n_events::DOUBLE END) -
       |   max(CASE WHEN cohort = 'control' AND period = 'pre'
       |    THEN s::DOUBLE / n_events::DOUBLE END)), 5) AS did FROM g)
       |SELECT cohort, period, n_events,
       |  round(s::DOUBLE / n_events::DOUBLE, 5) AS mean_value, did
       |FROM g CROSS JOIN did ORDER BY cohort, period""".stripMargin

  /** A/B power / MDE — twin of Stats.abPower: the abSrm bucket
    * convention, exact decimal per-unit sums and second moments, the
    * identical pooled-variance / MDE double dag with the shared
    * normal-quantile literals.
    */
  def abPower(variants: Seq[(String, Double)], salt: String): String = {
    val cum = variants.map(_._2).scanLeft(0.0)(_ + _).tail.init :+ 1.0
    val cases = variants.map(_._1).zip(cum).init
      .map { case (nm, hi) => s"WHEN f < $hi THEN '$nm'" }.mkString(" ")
    val control = variants.head._1
    val zSum = "2.801585219" // 1.959963985 + 0.841621234, shared literal
    s"""WITH per AS (SELECT user_id,
       |  sum(value::DECIMAL(18,6))::DECIMAL(18,6) AS y
       |  FROM events GROUP BY 1),
       |a AS (SELECT y, CASE $cases ELSE '${variants.last._1}' END AS variant
       |  FROM (SELECT y,
       |    cast(cast('0x' || substr(md5('$salt|' || user_id), 1, 8)
       |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS f FROM per)),
       |arms AS (SELECT variant, count(*)::BIGINT AS n, sum(y) AS s,
       |  sum(y::DECIMAL(19,6) * y::DECIMAL(19,6)) AS ss FROM a GROUP BY 1),
       |c AS (SELECT n AS n_control, s AS cs, ss AS css FROM arms
       |  WHERE variant = '$control'),
       |v AS (SELECT variant, n, s, ss, n_control, cs, css,
       |  ((css::DOUBLE - cs::DOUBLE * cs::DOUBLE / n_control::DOUBLE) +
       |   (ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)) /
       |    (n_control + n - 2)::DOUBLE AS sp2,
       |  cs::DOUBLE / n_control::DOUBLE AS mc
       |  FROM arms CROSS JOIN c WHERE variant <> '$control'),
       |m AS (SELECT variant, n_control, n, mc, sp2,
       |  $zSum * sqrt(sp2 * (1.0 / n_control::DOUBLE + 1.0 / n::DOUBLE))
       |    AS mde FROM v)
       |SELECT variant, n_control, n AS n_variant,
       |  round(mc, 5) AS mean_control,
       |  round(sqrt(sp2), 5) AS sd_pooled,
       |  round(mde, 5) AS mde_abs,
       |  round(mde / mc, 5) AS mde_rel
       |FROM m ORDER BY variant""".stripMargin
  }

  /** Label-propagation communities — twin of Graph.labelPropagation
    * over the co-purchase graph: identical symmetric edge relation,
    * self-vote, (count DESC, label ASC) tie rule, and the SAME fixed
    * round count unrolled as CTEs (the markovIters convention — the
    * quantized trajectory is the contract, not the fixpoint).
    */
  def labelPropagation(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"l${r - 1}"
      s"""v$r AS (SELECT node, label, count(*)::BIGINT AS c FROM (
         |  SELECT s.n AS node, l.label FROM sym s JOIN $prev l ON s.m = l.node
         |  UNION ALL SELECT node, label FROM $prev) GROUP BY 1, 2),
         |l$r AS (SELECT node, label FROM (SELECT node, label,
         |  row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |  FROM v$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |e AS (SELECT DISTINCT x.i AS a, y.i AS b FROM items x
       |  JOIN items y ON x.g = y.g AND x.i < y.i),
       |sym AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT DISTINCT n AS node, n AS label FROM sym),
       |$rounds,
       |sz AS (SELECT label, count(*)::BIGINT AS community_size
       |  FROM l$iters GROUP BY 1)
       |SELECT node, label AS community, community_size
       |FROM l$iters JOIN sz USING (label) ORDER BY node""".stripMargin
  }

  /** Funnel hop-latency quantiles — twin of Events.funnelLatency:
    * same first-i / first-(i+1)-at-or-after-it per-user µs durations,
    * the shared exact interpolated-quantile expression tree.
    */
  def funnelLatency(stages: Seq[String],
      ps: Seq[(String, Double)]): String = {
    val picks = quantilePicksSql(ps)
    val qs = quantileProjSql(ps)
    val pairCtes = stages.zip(stages.tail).zipWithIndex.map {
      case ((a, b), i) =>
        s"""d$i AS (SELECT '${i + 1}_${a}_to_$b' AS g,
           |  (epoch_us(t1) - epoch_us(t0))::DOUBLE AS v FROM (
           |  SELECT s.user_id, s.t0, min(e.ts) AS t1
           |  FROM (SELECT user_id, min(ts) AS t0 FROM events
           |        WHERE event_type = '$a' GROUP BY 1) s
           |  JOIN events e ON e.user_id = s.user_id
           |    AND e.event_type = '$b' AND e.ts >= s.t0
           |  GROUP BY 1, 2))""".stripMargin
    }
    val union = stages.indices.init
      .map(i => s"SELECT * FROM d$i").mkString(" UNION ALL ")
    s"""WITH ${pairCtes.mkString(",\n")},
       |durs AS ($union),
       |vc AS (SELECT g, v, count(*)::BIGINT AS cnt FROM durs GROUP BY 1, 2),
       |tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM vc GROUP BY g),
       |cum AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
       |j AS (SELECT cum.g, v, cnt, cum, n FROM cum JOIN tot USING (g)),
       |a AS (SELECT g, n, $picks FROM j GROUP BY g, n)
       |SELECT g AS stage_pair, n, $qs FROM a ORDER BY stage_pair""".stripMargin
  }

  /** Theil–Sen daily trend — twin of Events.theilSen: identical
    * pairwise slopes over the (type, day) grid, lower-median
    * positional picks, residual median intercept from the UNROUNDED
    * slope.
    */
  val theilSen: String =
    """WITH daily AS (SELECT event_type,
      |  date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS d,
      |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
      |p AS (SELECT l.event_type, (r.c - l.c)::DOUBLE / (r.d - l.d)::DOUBLE
      |    AS s
      |  FROM daily l JOIN daily r ON l.event_type = r.event_type
      |    AND r.d > l.d),
      |sp AS (SELECT event_type, s AS slope FROM (
      |  SELECT event_type, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n FROM p)
      |  WHERE rn = (n - 1) // 2 + 1),
      |res AS (SELECT d.event_type, slope,
      |  d.c::DOUBLE - slope * d.d::DOUBLE AS r
      |  FROM daily d JOIN sp USING (event_type)),
      |fin AS (SELECT event_type, slope, r,
      |  row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS nd FROM res)
      |SELECT event_type, nd AS n_days, round(slope, 5) AS slope,
      |  round(r, 5) AS intercept
      |FROM fin WHERE rn = (nd - 1) // 2 + 1 ORDER BY event_type""".stripMargin

  /** k-anonymity audit — twin of Stats.kAnonymity over customer
    * quasi-identifiers with the banded-balance sensitive column.
    */
  def kAnonymity(k: Int): String =
    s"""SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS class_size,
       |  count(DISTINCT floor(c_acctbal / 1000))::BIGINT AS l_diversity,
       |  (count(*) < $k) AS at_risk
       |FROM customer GROUP BY 1, 2
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** Good-Turing counts-of-counts — twin of TextStats.goodTuring:
    * same tokenize, exact integer class sizes, r* and p_mass each ONE
    * integer-operand division.
    */
  def goodTuring(maxR: Int): String =
    s"""WITH $toksCte,
       |tc AS (SELECT tok, count(*)::BIGINT AS r FROM
       |  (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
       |coc AS (SELECT r, count(*)::BIGINT AS n_tokens FROM tc GROUP BY r),
       |tot AS (SELECT sum(r * n_tokens)::BIGINT AS n FROM coc)
       |SELECT c.r, c.n_tokens, coalesce(nx.n_tokens, 0)::BIGINT AS n_next,
       |  round(((c.r + 1) * coalesce(nx.n_tokens, 0))::DOUBLE
       |    / c.n_tokens::DOUBLE, 5) AS r_star,
       |  round(((c.r + 1) * coalesce(nx.n_tokens, 0))::DOUBLE
       |    / (SELECT n FROM tot)::DOUBLE, 5) AS p_mass
       |FROM (SELECT * FROM coc ORDER BY r LIMIT $maxR) c
       |LEFT JOIN coc nx ON nx.r = c.r + 1
       |ORDER BY c.r""".stripMargin

  /** PSI drift per source — twin of Stats.psiDrift(documents, source,
    * n_chars, B): exact integer equal-width bins of the global
    * [min, max], Laplace-smoothed p/q, per-bin log-ratio rounded to 9
    * into DECIMAL(18,9), exact integer-weighted decimal sum, ONE
    * final division.
    */
  def psiDrift(nBins: Int): String =
    s"""WITH vals AS (SELECT source AS g, n_chars::BIGINT AS v
       |  FROM documents WHERE n_chars IS NOT NULL),
       |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
       |bn AS (SELECT g, ((v - (SELECT lo FROM mm)) * $nBins)
       |    // ((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1) AS b FROM vals),
       |gb AS (SELECT g, b, count(*)::BIGINT AS cgb FROM bn GROUP BY 1, 2),
       |gt AS (SELECT g, sum(cgb)::BIGINT AS ng FROM gb GROUP BY g),
       |cbt AS (SELECT b, sum(cgb)::BIGINT AS cb FROM gb GROUP BY b),
       |nt AS (SELECT sum(cb)::BIGINT AS n FROM cbt),
       |grid AS (SELECT gt.g, gt.ng, bb.b FROM gt CROSS JOIN
       |  (SELECT unnest(range(0, $nBins))::BIGINT AS b) bb),
       |terms AS (SELECT grid.g, grid.ng, nt.n,
       |    (coalesce(gb.cgb, 0) + 1)::DECIMAL(38,0) * (nt.n + $nBins) AS pn,
       |    (coalesce(cbt.cb, 0) + 1)::DECIMAL(38,0) * (grid.ng + $nBins) AS qn
       |  FROM grid LEFT JOIN gb ON gb.g = grid.g AND gb.b = grid.b
       |  LEFT JOIN cbt ON cbt.b = grid.b CROSS JOIN nt),
       |s AS (SELECT g, ng, any_value(n) AS n,
       |    sum((pn - qn)::DECIMAL(18,0)
       |      * round(ln(pn::DOUBLE / qn::DOUBLE), 9)::DECIMAL(18,9)) AS psum
       |  FROM terms GROUP BY g, ng)
       |SELECT g AS source, ng AS n_rows,
       |  round(psum::DOUBLE /
       |    ((ng + $nBins)::DECIMAL(38,0) * (n + $nBins))::DOUBLE, 5) AS psi
       |FROM s ORDER BY source""".stripMargin

  /** KMV period overlap — twin of Sketches.kmvPeriodOverlap: same
    * md5 bottom-k sketches per (key, period), union bottom-k, exact
    * j, and the single-division (k−1)·2⁶⁰/h(k) estimates with exact
    * small-set branches.
    */
  def kmvPeriodOverlap(k: Int, splitDate: String): String =
    s"""WITH hashed AS (SELECT DISTINCT event_type,
       |  CASE WHEN cast(ts AS DATE) < DATE '$splitDate' THEN 'a' ELSE 'b' END AS p,
       |  md5(user_id::VARCHAR) AS h FROM events),
       |sk AS (SELECT event_type, p, h FROM (SELECT *, row_number() OVER
       |  (PARTITION BY event_type, p ORDER BY h) AS r FROM hashed)
       |  WHERE r <= $k),
       |u AS (SELECT event_type, h FROM (SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
       |  FROM (SELECT DISTINCT event_type, h FROM sk)) WHERE r <= $k),
       |fl AS (SELECT u.event_type, u.h,
       |  (sa.h IS NOT NULL AND sb.h IS NOT NULL)::INT AS inboth
       |  FROM u
       |  LEFT JOIN (SELECT event_type, h FROM sk WHERE p = 'a') sa
       |    ON sa.event_type = u.event_type AND sa.h = u.h
       |  LEFT JOIN (SELECT event_type, h FROM sk WHERE p = 'b') sb
       |    ON sb.event_type = u.event_type AND sb.h = u.h),
       |sizes AS (SELECT event_type,
       |  sum(CASE WHEN p = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
       |  sum(CASE WHEN p = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b
       |  FROM sk GROUP BY 1),
       |agg AS (SELECT event_type, count(*)::BIGINT AS nu,
       |  max(h) AS hk, sum(inboth)::BIGINT AS j_common FROM fl GROUP BY 1),
       |wi AS (SELECT sizes.event_type, n_a, n_b, nu, j_common,
       |  cast('0x' || substr(hk, 1, 15) AS BIGINT)::HUGEINT AS hki
       |  FROM sizes JOIN agg USING (event_type))
       |SELECT event_type, n_a, n_b, j_common,
       |  CASE WHEN nu < $k THEN round(j_common::DOUBLE / nu::DOUBLE, 5)
       |    ELSE round(j_common::DOUBLE / ${k.toDouble}, 5) END AS jaccard_est,
       |  CASE WHEN nu < $k THEN nu::DOUBLE
       |    ELSE round((${k - 1}::HUGEINT * 1152921504606846976)::DOUBLE
       |      / hki::DOUBLE, 5) END AS est_union,
       |  CASE WHEN nu < $k THEN j_common::DOUBLE
       |    ELSE round((j_common::HUGEINT * ${k - 1} * 1152921504606846976)::DOUBLE
       |      / (hki * $k)::DOUBLE, 5) END AS est_intersection
       |FROM wi ORDER BY event_type""".stripMargin

  /** Frame-sampling plan — twin of Multimodal.frameSamplePlan over
    * the video third of the asset table: same stub byte clock, same
    * integer cadence/offset arithmetic.
    */
  def frameSamplePlan(intervalMs: Long, msPerByte: Long): String =
    s"""WITH v AS (SELECT doc_id AS asset_id,
       |  (length(text)::BIGINT * $msPerByte) AS dur FROM documents
       |  WHERE doc_id % 3 = 2),
       |f AS (SELECT asset_id,
       |  unnest(range(0, (dur - 1) // $intervalMs + 1))::BIGINT AS frame_idx
       |  FROM v WHERE dur >= 1)
       |SELECT asset_id, frame_idx,
       |  (frame_idx * $intervalMs)::BIGINT AS ts_ms,
       |  ((frame_idx * $intervalMs) // $msPerByte)::BIGINT AS byte_offset
       |FROM f ORDER BY asset_id, frame_idx""".stripMargin

  /** Vocabulary mass-coverage curve — twin of
    * TextStats.vocabMassCurve: (count DESC, token) ranks, exact
    * cumsum over the vocabulary relation, cuts pinned to
    * min(V, |vocab|).
    */
  def vocabMassCurve(cuts: Seq[Int]): String = {
    val cutList = cuts.map(_.toLong).mkString("[", ", ", "]")
    s"""WITH $toksCte,
       |cnt AS (SELECT tok, count(*)::BIGINT AS c FROM
       |  (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
       |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok)::BIGINT AS r,
       |  sum(c) OVER (ORDER BY c DESC, tok
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM cnt),
       |tot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS vocab FROM cnt),
       |cu AS (SELECT unnest($cutList::BIGINT[]) AS v_cut)
       |SELECT cu.v_cut, least(cu.v_cut, tot.vocab)::BIGINT AS n_vocab_used,
       |  rk.cum AS cum_mass,
       |  round(rk.cum::DOUBLE / tot.n::DOUBLE, 5) AS coverage
       |FROM cu CROSS JOIN tot
       |JOIN rk ON rk.r = least(cu.v_cut, tot.vocab)
       |ORDER BY cu.v_cut""".stripMargin
  }

  /** Token burstiness — twin of TextStats.tokenBurstiness: cf from
    * the raw stream, df from the per-doc distinct lists, ordering by
    * the exactly-rounded cf/df double then token.
    */
  def tokenBurstiness(minCf: Long, k: Int): String =
    s"""WITH $toksCte,
       |cf AS (SELECT tok, count(*)::BIGINT AS cf FROM
       |  (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
       |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM
       |  (SELECT unnest(list_distinct(t)) AS tok FROM toks) GROUP BY tok)
       |SELECT cf.tok AS token, cf.cf, dfq.df,
       |  round(cf.cf::DOUBLE / dfq.df::DOUBLE, 5) AS burstiness
       |FROM cf JOIN dfq USING (tok)
       |WHERE cf.cf >= $minCf
       |ORDER BY cf.cf::DOUBLE / dfq.df::DOUBLE DESC, cf.tok
       |LIMIT $k""".stripMargin

  /** Per-source n-gram diversity — twin of
    * TextStats.sourceNgramDiversity: same non-distinct gram window,
    * exact-arity separator filter, two map-side counts.
    */
  def sourceNgramDiversity(n: Int): String =
    s"""WITH $toksCte,
       |gl AS (SELECT d.source AS s,
       |  list_transform(range(1, greatest(len(t.t) - ${n - 1}, 1) + 1),
       |    i -> array_to_string(t.t[i:i+${n - 1}], ' ')) AS gs
       |  FROM toks t JOIN documents d USING (doc_id)),
       |g AS (SELECT s, g FROM (SELECT s, unnest(gs) AS g FROM gl)
       |  WHERE len(g) - len(replace(g, ' ', '')) = ${n - 1}),
       |per AS (SELECT s, g, count(*)::BIGINT AS c FROM g GROUP BY 1, 2)
       |SELECT s AS source, sum(c)::BIGINT AS n_grams,
       |  count(*)::BIGINT AS n_distinct,
       |  round(count(*)::DOUBLE / sum(c)::DOUBLE, 5) AS diversity
       |FROM per GROUP BY s ORDER BY source""".stripMargin

  /** Kneser-Ney bigram cross-entropy — twin of
    * TextStats.knCrossEntropy: the lm2 bigram convention plus
    * prefix/continuation type counts, the interpolation folded to one
    * exact integer rational (HUGEINT here, DECIMAL(38,0) in Spark —
    * same values), −ln quantized to DECIMAL(18,9), exact HALF-UP
    * per-doc mean.
    */
  val knCrossEntropy: String =
    s"""WITH $toksCte,
       |bgl AS (SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 1) + 1),
       |  i -> array_to_string(t[i:i+1], ' ')) AS bgs FROM toks),
       |bgu AS (SELECT doc_id, unnest(bgs) AS g FROM bgl),
       |occ AS (SELECT doc_id, g FROM bgu WHERE contains(g, ' ')),
       |cnt2 AS (SELECT g, count(*)::BIGINT AS c2,
       |  string_split(g, ' ')[1] AS a, string_split(g, ' ')[2] AS b
       |  FROM occ GROUP BY g),
       |pref AS (SELECT a, sum(c2)::BIGINT AS ca, count(*)::BIGINT AS n1a
       |  FROM cnt2 GROUP BY a),
       |cont AS (SELECT b, count(*)::BIGINT AS eb FROM cnt2 GROUP BY b),
       |tot AS (SELECT count(*)::BIGINT AS e FROM cnt2),
       |lp AS (SELECT g, round(-ln(
       |    ((SELECT e FROM tot)::HUGEINT * (c2 * 4 - 3)
       |      + n1a::HUGEINT * eb * 3)::DOUBLE /
       |    (ca::HUGEINT * (SELECT e FROM tot) * 4)::DOUBLE), 9)
       |    ::DECIMAL(18,9) AS nlp
       |  FROM cnt2 JOIN pref USING (a) JOIN cont USING (b)),
       |per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  ${decAvg5Sql("nlp")} AS ce
       |  FROM occ JOIN lp USING (g) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(per.ce, 0.0) AS kn_cross_entropy
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Jensen-Shannon source drift — twin of TextStats.jsDrift: same
    * exact mixture rationals, scale-9 integer log units (HUGEINT
    * ladder mirroring Spark's decimal one), closed-form absent-token
    * ln 2 mass, ONE final division by 2AB·10⁹.
    */
  val jsDrift: String =
    s"""WITH $toksCte,
       |u AS (SELECT d.source AS g, unnest(t.t) AS tok
       |  FROM toks t JOIN documents d USING (doc_id)),
       |gt AS (SELECT g, tok, count(*)::BIGINT AS a FROM u GROUP BY 1, 2),
       |pool AS (SELECT tok, sum(a)::BIGINT AS b FROM gt GROUP BY tok),
       |att AS (SELECT g, sum(a)::BIGINT AS ta FROM gt GROUP BY g),
       |btt AS (SELECT sum(b)::BIGINT AS tb FROM pool),
       |terms AS (SELECT gt.g, att.ta, btt.tb, gt.a, pool.b,
       |  (round(ln((gt.a::HUGEINT * btt.tb * 2)::DOUBLE /
       |     (gt.a::HUGEINT * btt.tb + pool.b::HUGEINT * att.ta)::DOUBLE), 9)
       |   ::DECIMAL(18,9) * 1000000000)::HUGEINT AS lpu,
       |  (round(ln((pool.b::HUGEINT * att.ta * 2)::DOUBLE /
       |     (gt.a::HUGEINT * btt.tb + pool.b::HUGEINT * att.ta)::DOUBLE), 9)
       |   ::DECIMAL(18,9) * 1000000000)::HUGEINT AS lqu
       |  FROM gt JOIN pool USING (tok) JOIN att USING (g) CROSS JOIN btt),
       |s AS (SELECT g, ta, tb,
       |    sum(a::HUGEINT * lpu)::HUGEINT AS s1,
       |    sum(b::HUGEINT * lqu)::HUGEINT AS s2,
       |    sum(b)::HUGEINT AS bp
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT g AS source, ta AS n_tokens,
       |  round((tb::HUGEINT * s1 + ta::HUGEINT * s2
       |      + ta::HUGEINT * (tb - bp) * 693147181)::DOUBLE /
       |    (ta::HUGEINT * tb * 2000000000)::DOUBLE, 5) AS jsd
       |FROM s ORDER BY source""".stripMargin

  /** Shard-shuffle runs audit — twin of Sharding.shuffleRunsAudit:
    * the q_shard assignment/order CTE, a lag run-boundary walk, and
    * the Wald–Wolfowitz expectation as single integer-operand
    * divisions.
    */
  def shuffleRuns(numShards: Int): String =
    s"""WITH h AS (SELECT doc_id, source, md5('shard|' || doc_id) AS hx
       |  FROM documents),
       |s AS (SELECT doc_id, source, hx,
       |  (cast('0x' || substr(hx, 1, 8) AS BIGINT) % $numShards)::INT
       |    AS shard_id FROM h),
       |o AS (SELECT shard_id, source, lag(source) OVER
       |  (PARTITION BY shard_id ORDER BY hx, doc_id) AS prev FROM s),
       |r AS (SELECT shard_id, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN prev IS NULL OR prev <> source THEN 1 ELSE 0 END)
       |    ::BIGINT AS n_runs FROM o GROUP BY 1),
       |sq AS (SELECT shard_id, sum(nc * nc)::HUGEINT AS ssq FROM
       |  (SELECT shard_id, source, count(*)::HUGEINT AS nc
       |   FROM s GROUP BY 1, 2) GROUP BY 1)
       |SELECT r.shard_id, r.n_docs, r.n_runs,
       |  round((r.n_docs::HUGEINT * (r.n_docs + 1) - sq.ssq)::DOUBLE
       |    / r.n_docs::DOUBLE, 5) AS expected_runs,
       |  round((r.n_runs::HUGEINT * r.n_docs)::DOUBLE /
       |    (r.n_docs::HUGEINT * (r.n_docs + 1) - sq.ssq)::DOUBLE, 5)
       |    AS runs_ratio
       |FROM r JOIN sq USING (shard_id) ORDER BY r.shard_id""".stripMargin

  /** Canary-string scan — twin of Decontamination.canaryScan: same
    * literal list, 1-based strpos, replace-length occurrence count.
    */
  def canaryScan(canaries: Seq[String]): String = {
    val list = canaries.map(c => s"'${c.replace("'", "''")}'")
      .mkString("[", ", ", "]")
    s"""SELECT doc_id, c.canary, strpos(text, c.canary)::BIGINT AS first_pos,
       |  ((len(text) - len(replace(text, c.canary, '')))
       |    // len(c.canary))::BIGINT AS n_occurrences
       |FROM documents CROSS JOIN (SELECT unnest($list) AS canary) c
       |WHERE strpos(text, c.canary) > 0
       |ORDER BY doc_id, canary""".stripMargin
  }

  /** Pareto front — twin of Curation.paretoFront: per-length maxima,
    * strictly-longer running max over the length domain, length-keyed
    * join back.
    */
  val paretoFront: String =
    """WITH base AS (SELECT doc_id, len(text)::BIGINT AS doc_len,
      |  len(list_distinct(list_filter(string_split(text, ' '),
      |    x -> x <> '')))::BIGINT AS n_unique FROM documents),
      |ym AS (SELECT doc_len, max(n_unique) AS ymax FROM base GROUP BY 1),
      |f AS (SELECT doc_len, ymax, max(ymax) OVER (ORDER BY doc_len DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax FROM ym),
      |front AS (SELECT doc_len, ymax FROM f
      |  WHERE smax IS NULL OR ymax > smax)
      |SELECT b.doc_id, b.doc_len, b.n_unique
      |FROM base b JOIN front fr
      |  ON b.doc_len = fr.doc_len AND b.n_unique = fr.ymax
      |ORDER BY b.doc_len DESC, b.doc_id""".stripMargin

  /** Consistent-hash reshard plan — twin of Sharding.reshardPlan:
    * both rings as the SAME driver-computed literal vnode lists, the
    * same 60-bit md5 doc position and clockwise-next assignment.
    */
  def reshardPlan(oldShards: Int, newShards: Int, vnodesPerShard: Int,
      salt: String): String = {
    def ringSql(n: Int) = graft.ext.Sharding.ringVnodes(n, vnodesPerShard)
      .map { case (h, s) => s"{'vh': ${h}::BIGINT, 's': $s}" }
      .mkString("[", ", ", "]")
    def assign(n: Int) =
      s"coalesce(list_filter(${ringSql(n)}, x -> x.vh >= h)[1], " +
        s"(${ringSql(n)})[1]).s"
    s"""WITH d AS (SELECT cast('0x' ||
       |    substr(md5('$salt|' || doc_id::VARCHAR), 1, 15) AS BIGINT) AS h
       |  FROM documents),
       |a AS (SELECT ${assign(oldShards)} AS old_shard,
       |  ${assign(newShards)} AS new_shard FROM d)
       |SELECT old_shard, new_shard, count(*)::BIGINT AS n_docs,
       |  old_shard <> new_shard AS moved
       |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** HITS hubs & authorities — twin of Graph.hits over the distinct
    * customer→part purchase edges: the same UNNORMALIZED exact
    * integer recurrence unrolled one CTE pair per iteration, each
    * side normalized once by its max.
    */
  def hits(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT dst AS anode, sum(h)::BIGINT AS a
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY dst),
         |h$i AS (SELECT src AS node, sum(a)::BIGINT AS h
         |  FROM e JOIN a$i ON e.dst = a$i.anode GROUP BY src)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS (SELECT DISTINCT src AS node, 1::BIGINT AS h FROM e),
       |$rounds
       |SELECT 'authority' AS node_type, anode AS node, a AS score_raw,
       |  round(a::DOUBLE / (SELECT max(a) FROM a$iters)::DOUBLE, 9) AS score
       |FROM a$iters
       |UNION ALL
       |SELECT 'hub', node, h,
       |  round(h::DOUBLE / (SELECT max(h) FROM h$iters)::DOUBLE, 9)
       |FROM h$iters
       |ORDER BY node_type, node""".stripMargin
  }

  /** Best single change-point — twin of Events.bestChangepoint: the
    * same daily roll-up, exact integer num = n·S_k − k·S, scale-6
    * integer argmax units (n dropped — constant per type), earliest-
    * day ties, single-division exposed doubles.
    */
  val bestChangepoint: String =
    """WITH daily AS (SELECT event_type, cast(ts AS DATE) AS day,
      |    count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
      |cum AS (SELECT event_type, day, c,
      |  sum(c) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sk,
      |  row_number() OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS k,
      |  sum(c) OVER (PARTITION BY event_type)::BIGINT AS s,
      |  count(*) OVER (PARTITION BY event_type)::BIGINT AS n FROM daily),
      |sc AS (SELECT *,
      |  (n::DECIMAL(38,0) * sk - k::DECIMAL(38,0) * s) AS num
      |  FROM cum WHERE k < n),
      |g AS (SELECT *,
      |  (num::HUGEINT * num::HUGEINT * 1000000) // (k * (n - k)) AS gu
      |  FROM sc),
      |best AS (SELECT * FROM (SELECT *, row_number() OVER
      |    (PARTITION BY event_type ORDER BY gu DESC, day) AS rn FROM g)
      |  WHERE rn = 1),
      |nd AS (SELECT event_type, count(*)::BIGINT AS n_days
      |  FROM daily GROUP BY 1)
      |SELECT nd.event_type, nd.n_days, best.day AS split_day,
      |  round(best.sk::DOUBLE / best.k::DOUBLE, 5) AS mean_before,
      |  round((best.s - best.sk)::DOUBLE / (best.n - best.k)::DOUBLE, 5)
      |    AS mean_after,
      |  round((best.num * best.num)::DOUBLE /
      |    (best.n::DECIMAL(38,0) * best.k * (best.n - best.k))::DOUBLE, 5)
      |    AS gain
      |FROM nd LEFT JOIN best USING (event_type)
      |ORDER BY nd.event_type""".stripMargin

  /** Reciprocal-rank fusion — twin of Search.rrfFusion: the BM25 twin
    * as one list, the shared normalize/dot CTEs as the other, ranks
    * fused with the single-division exact rational per case.
    */
  def rrfFusion(queryTerms: Seq[String], queryVecId: Long, listK: Int,
      k: Int, rrfK: Int, k1: Double, b: Double): String =
    s"""WITH bmlist AS (${bm25(queryTerms, listK, k1, b)}),
       |bmr AS (SELECT doc_id, cast(row_number() OVER
       |  (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank FROM bmlist),
       |$normCte,
       |q AS (SELECT nv FROM n WHERE vec_id = $queryVecId),
       |cscored AS (SELECT c.vec_id AS doc_id,
       |  ${dotSql("c.nv", "q.nv")} AS score
       |  FROM n c CROSS JOIN q WHERE c.vec_id <> $queryVecId),
       |cosr AS (SELECT doc_id, cast(r AS INT) AS cosine_rank FROM
       |  (SELECT doc_id, row_number() OVER
       |    (ORDER BY score DESC, doc_id) AS r FROM cscored)
       |  WHERE r <= $listK),
       |f AS (SELECT coalesce(bmr.doc_id, cosr.doc_id) AS doc_id,
       |    bm25_rank, cosine_rank
       |  FROM bmr FULL OUTER JOIN cosr ON bmr.doc_id = cosr.doc_id),
       |sc AS (SELECT doc_id, bm25_rank, cosine_rank,
       |  CASE WHEN bm25_rank IS NOT NULL AND cosine_rank IS NOT NULL THEN
       |    (${2 * rrfK} + bm25_rank + cosine_rank)::DOUBLE /
       |      (($rrfK + bm25_rank)::BIGINT * ($rrfK + cosine_rank))::DOUBLE
       |  WHEN bm25_rank IS NOT NULL THEN
       |    1.0 / ($rrfK + bm25_rank)::DOUBLE
       |  ELSE 1.0 / ($rrfK + cosine_rank)::DOUBLE END AS raw FROM f),
       |r AS (SELECT *, cast(row_number() OVER
       |  (ORDER BY raw DESC, doc_id) AS INT) AS rank FROM sc)
       |SELECT doc_id, bm25_rank, cosine_rank, round(raw, 9) AS rrf_score,
       |  rank
       |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  /** Winnowing fingerprints — twin of TextStats.winnowingFingerprints:
    * char k-gram 48-bit md5 hashes, w-row sliding window min per doc,
    * distinct selected hashes; density = fingerprints/windows.
    */
  def winnowing(k: Int, w: Int): String =
    s"""WITH g AS (SELECT doc_id, text,
       |    (len(text) - $k + 1)::BIGINT AS n_grams FROM documents),
       |pos AS (SELECT doc_id, n_grams, text,
       |    unnest(range(1, greatest(n_grams, 0) + 1))::BIGINT AS p FROM g),
       |h AS (SELECT doc_id, n_grams, p,
       |    cast('0x' || substr(md5(substr(text, p::INT, $k)), 1, 12)
       |      AS BIGINT) AS hv FROM pos),
       |wm AS (SELECT doc_id, n_grams, p,
       |    min(hv) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin FROM h),
       |fp AS (SELECT doc_id,
       |    count(DISTINCT wmin) FILTER (p <= n_grams - $w + 1)::BIGINT AS nf
       |  FROM wm GROUP BY doc_id)
       |SELECT g.doc_id, greatest(g.n_grams, 0)::BIGINT AS n_grams,
       |  greatest(g.n_grams - ${w - 1}, 0)::BIGINT AS n_windows,
       |  coalesce(fp.nf, 0)::BIGINT AS n_fingerprints,
       |  CASE WHEN g.n_grams - ${w - 1} >= 1 THEN
       |    round(coalesce(fp.nf, 0)::DOUBLE
       |      / (g.n_grams - ${w - 1})::DOUBLE, 5) END AS fp_density
       |FROM g LEFT JOIN fp USING (doc_id) ORDER BY g.doc_id""".stripMargin

  /** Day-of-week seasonal decomposition — twin of Events.seasonalDow:
    * the same Monday=0 integer dow bucketing ((epoch_day + 3) % 7),
    * both exposed ratios single double divisions of exact HUGEINT
    * products (twin of the Spark side's DECIMAL(38,0)).
    */
  val seasonalDow: String =
    """WITH daily AS (SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
      |    count(*)::BIGINT AS n_events
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT *, ((day_num + 3) % 7)::INT AS dow FROM daily),
      |bt AS (SELECT event_type, sum(n_events)::HUGEINT AS st,
      |  count(*)::HUGEINT AS nd FROM d2 GROUP BY 1),
      |bd AS (SELECT event_type, dow, sum(n_events)::HUGEINT AS sd,
      |  count(*)::HUGEINT AS ndw FROM d2 GROUP BY 1, 2)
      |SELECT d2.event_type, d2.day_num, d2.dow, d2.n_events,
      |  round((bd.sd * bt.nd)::DOUBLE / (bd.ndw * bt.st)::DOUBLE, 5)
      |    AS seasonal_index,
      |  round((d2.n_events::HUGEINT * bd.ndw * bt.st)::DOUBLE
      |    / (bd.sd * bt.nd)::DOUBLE, 5) AS deseasonalized
      |FROM d2 JOIN bd USING (event_type, dow) JOIN bt USING (event_type)
      |ORDER BY event_type, day_num""".stripMargin

  /** Daily-series autocorrelation — twin of Events.acfDaily: the same
    * zero-filled calendar spine, the lag pairing as a self-join on
    * day_num − lag (value-identical to the Spark side's window lag —
    * the grid is complete), and the same mean-cleared exact-integer
    * rational r = (n²·Sxy − n·S·(Sh+St) + (n−lag)·S²) /
    * (n²·Sxx − n·S²) as ONE double division per (type, lag).
    */
  def acfDaily(maxLag: Int): String =
    s"""WITH daily AS (SELECT event_type,
       |    date_diff('day', DATE '1970-01-01', cast(ts AS DATE))::BIGINT AS day_num,
       |    count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT event_type, min(day_num) AS d0, max(day_num) AS d1
       |  FROM daily GROUP BY 1),
       |spine AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day_num FROM span),
       |series AS (SELECT s.event_type, s.day_num, coalesce(d.c, 0)::BIGINT AS x
       |  FROM spine s LEFT JOIN daily d USING (event_type, day_num)),
       |m AS (SELECT event_type, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
       |  sum(x::HUGEINT * x) AS sxx FROM series GROUP BY 1),
       |lags AS (SELECT unnest(range(1, $maxLag + 1)) AS lag),
       |p AS (SELECT a.event_type, l.lag, a.x AS xt, b.x AS xl
       |  FROM series a CROSS JOIN lags l
       |  JOIN series b ON b.event_type = a.event_type
       |    AND b.day_num = a.day_num - l.lag),
       |agg AS (SELECT event_type, lag, count(*)::BIGINT AS n_pairs,
       |  sum(xt::HUGEINT * xl) AS sxy, sum(xt)::HUGEINT AS stail,
       |  sum(xl)::HUGEINT AS shead
       |  FROM p GROUP BY 1, 2)
       |SELECT a.event_type, a.lag::INT AS lag, a.n_pairs,
       |  CASE WHEN m.n * m.n * m.sxx - m.n * m.s * m.s <> 0 THEN
       |    round((m.n * m.n * a.sxy - m.n * m.s * (a.shead + a.stail)
       |        + (m.n - a.lag) * m.s * m.s)::DOUBLE
       |      / (m.n * m.n * m.sxx - m.n * m.s * m.s)::DOUBLE, 5)
       |  END AS acf
       |FROM agg a JOIN m USING (event_type)
       |ORDER BY a.event_type, a.lag""".stripMargin

  /** Personalized PageRank — twin of Graph.personalizedPageRank over
    * the co-purchase graph with one brand's parts as the teleport
    * set: the pageRank exact scale-9 integer recurrence, but init
    * 10⁹//ǀSǀ and jump 0.15·10⁹//ǀSǀ land on connected seeds only
    * (ǀSǀ counts seeds present in the graph), zero elsewhere; the
    * per-round sum joins LEFT so sink-side nodes keep their jump
    * term.
    */
  def personalizedPageRank(seedBrand: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT s.dst, sum(r.ru // r.deg)::BIGINT AS su
         |  FROM sym s JOIN r${i - 1} r ON s.src = r.node GROUP BY s.dst),
         |r$i AS (SELECT d.node, d.deg, d.seed,
         |  ((CASE WHEN d.seed THEN (SELECT 150000000 // ns FROM sc)
         |      ELSE 0 END)
         |    + (85 * coalesce(su, 0)) // 100)::BIGINT AS ru
         |  FROM deg d LEFT JOIN s$i ON d.node = s$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |e AS (SELECT DISTINCT x.i AS a, y.i AS b FROM items x
       |  JOIN items y ON x.g = y.g AND x.i < y.i),
       |sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |dg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM sym GROUP BY src),
       |sd AS (SELECT DISTINCT p_partkey AS s FROM part
       |  WHERE p_brand = '$seedBrand'),
       |deg AS (SELECT dg.node, dg.deg, sd.s IS NOT NULL AS seed
       |  FROM dg LEFT JOIN sd ON dg.node = sd.s),
       |sc AS (SELECT count(*)::BIGINT AS ns FROM deg WHERE seed),
       |r0 AS (SELECT node, deg, seed,
       |  (CASE WHEN seed THEN (SELECT 1000000000 // ns FROM sc)
       |    ELSE 0 END)::BIGINT AS ru FROM deg),
       |$rounds
       |SELECT node, seed, ru AS rank_u, round(ru / 1000000000.0, 9) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Incrementally maintained grouped view — INDEPENDENT ground truth
    * for Merge.incrementalAgg: the oracle ignores the delta algebra
    * entirely and re-aggregates the FULLY MERGED snapshot (the
    * mergeUpsert CTE chain), so a wrong retraction or addition on the
    * Spark side fails the hash.
    */
  val incrementalAgg: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 17 = 0),
      |upd AS (SELECT o_orderkey, 'F' AS o_orderstatus,
      |  o_totalprice * 1.1::DOUBLE AS o_totalprice FROM base
      |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 0),
      |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
      |  'N' AS o_orderstatus, o_totalprice FROM base
      |  WHERE o_orderkey % 1000 = 0),
      |changed_keys AS (SELECT o_orderkey FROM del
      |  UNION ALL SELECT o_orderkey FROM upd
      |  UNION ALL SELECT o_orderkey FROM ins),
      |survivors AS (SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
      |  FROM base b WHERE NOT EXISTS
      |    (SELECT 1 FROM changed_keys c WHERE c.o_orderkey = b.o_orderkey)),
      |merged AS (SELECT * FROM survivors
      |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
      |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM ins)
      |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
      |  round(sum(o_totalprice::DECIMAL(18,6))::DOUBLE, 5) AS sum_value
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** Fellegi–Sunter EM — twin of Dedup.linkageEm: identical blocked
    * candidate pairs (the linkageScores CTE), identical ≤ 2^F pattern
    * collapse, then the EM rounds unrolled as CTEs — per round the
    * same left-fold double likelihood chains over the scale-9
    * decimal parameters, gq re-quantized to DECIMAL(18,9), exact
    * decimal M-step sums, one rounded double division per parameter.
    */
  def linkageEm(fields: Seq[String], window: Int, blockLen: Int,
      iters: Int): String = {
    val gammaSel = fields.map(f =>
      s"CASE WHEN a.$f = b.$f THEN 1 ELSE 0 END AS g_$f").mkString(", ")
    val gPos = fields.indices.map(i => s"${i + 1}").mkString(", ")
    def adExpr = "pp::DOUBLE " + fields.map(f =>
      s"* (CASE WHEN g_$f = 1 THEN m_$f::DOUBLE ELSE 1.0 - m_$f::DOUBLE END)")
      .mkString(" ")
    def bdExpr = "(1.0 - pp::DOUBLE) " + fields.map(f =>
      s"* (CASE WHEN g_$f = 1 THEN u_$f::DOUBLE ELSE 1.0 - u_$f::DOUBLE END)")
      .mkString(" ")
    val e0 = "e0 AS (SELECT " +
      (fields.map(f => s"0.9::DECIMAL(18,9) AS m_$f") ++
        fields.map(f => s"0.1::DECIMAL(18,9) AS u_$f") :+
        "0.1::DECIMAL(18,9) AS pp").mkString(", ") + ")"
    val rounds = (1 to iters).map { r =>
      s"""sc$r AS (SELECT g.*, round(($adExpr) / (($adExpr) + ($bdExpr)),
         |    9)::DECIMAL(18,9) AS gq
         |  FROM gam g CROSS JOIN e${r - 1}),
         |e$r AS (SELECT ${fields.map(f =>
        s"round(sum(gq * g_$f * n)::DOUBLE / sum(gq * n)::DOUBLE, 9)" +
          s"::DECIMAL(18,9) AS m_$f").mkString(", ")},
         |  ${fields.map(f =>
        s"round(sum((1 - gq) * g_$f * n)::DOUBLE / " +
          s"sum((1 - gq) * n)::DOUBLE, 9)::DECIMAL(18,9) AS u_$f")
        .mkString(", ")},
         |  round(sum(gq * n)::DOUBLE / sum(n)::DOUBLE, 9)::DECIMAL(18,9)
         |    AS pp
         |  FROM sc$r)""".stripMargin
    }.mkString(",\n")
    val finalRows = fields.map(f =>
      s"""SELECT '$f' AS field, m_$f::DOUBLE AS m, u_$f::DOUBLE AS u,
         |  pp::DOUBLE AS lambda,
         |  (SELECT sum(n) FROM gam)::BIGINT AS n_pairs FROM e$iters"""
        .stripMargin).mkString(" UNION ALL ")
    s"""WITH base AS (SELECT p_partkey AS id,
       |  trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS k
       |  FROM part),
       |r AS MATERIALIZED (SELECT id, substr(k, 1, $blockLen) AS blk,
       |  k, row_number() OVER (PARTITION BY substr(k, 1, $blockLen)
       |    ORDER BY k, id) AS rn
       |  FROM base),
       |p AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM r a JOIN r b ON a.blk = b.blk
       |  AND b.rn > a.rn AND b.rn <= a.rn + ${window - 1}),
       |gam AS (SELECT $gammaSel, count(*)::BIGINT AS n
       |  FROM p JOIN part a ON a.p_partkey = p.id_a
       |  JOIN part b ON b.p_partkey = p.id_b
       |  GROUP BY $gPos),
       |$e0,
       |$rounds
       |SELECT * FROM ($finalRows) ORDER BY field""".stripMargin
  }

  /** Binary sign-quantized search — twin of Similarity.binaryTopK:
    * per-dimension sign disagreements counted directly (the unpacked
    * form of the Spark side's `bit_count(qbits XOR cbits)` — the
    * COUNT is definitionally identical to the packed-long popcount),
    * ascending-Hamming candidates with id tie-break, exact-cosine
    * rerank.
    */
  def knnBinary(k: Int, rerank: Int): String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS query_id, nv AS nqv FROM n WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.nqv, c.nv,
       |  list_sum(list_transform(list_zip(q.nqv, c.nv), z ->
       |    CASE WHEN (z[1] >= 0) <> (z[2] >= 0) THEN 1 ELSE 0 END))::INT AS hamming
       |  FROM n c CROSS JOIN q WHERE q.query_id <> c.vec_id),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY hamming ASC, neighbor_id) AS ar FROM sc),
       |ex AS (SELECT query_id, neighbor_id, hamming,
       |  ${dotSql("nqv", "nv")} AS score FROM cand WHERE ar <= $rerank),
       |rk AS (SELECT query_id, neighbor_id, hamming, score, row_number() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM ex)
       |SELECT query_id, neighbor_id, hamming, score, cast(rank AS INT) AS rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining — twin of Similarity.hardNegatives: the
    * brute-force scored relation band-filtered on the SAME rounded
    * scale-5 score the result reports, then per-query top-k.
    */
  def hardNegatives(k: Int, floor: Double, ceiling: Double): String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS query_id, nv AS nqv FROM n WHERE vec_id < 5),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nqv", "c.nv")} AS score
       |  FROM n c CROSS JOIN q WHERE q.query_id <> c.vec_id),
       |b AS (SELECT * FROM sc WHERE score >= $floor AND score < $ceiling),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY score DESC, neighbor_id) AS rank FROM b)
       |SELECT query_id, neighbor_id, score, cast(rank AS INT) AS rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** MMR diversified rerank — twin of Search.mmrRerank: identical
    * candidate lists and scale-5 rel/sim, then the greedy selection
    * unrolled as `selectK` CTE rounds (the personalizedPageRank
    * rounds pattern); every argmax repeats the Spark side's
    * `0.5·rel − 0.5·max(sim)` double expression with id tie-break.
    */
  def mmrRerank(queryIds: Seq[Long], candidateK: Int,
      selectK: Int): String = {
    val ids = queryIds.mkString(", ")
    val rounds = (2 to selectK).map { r =>
      s"""mx$r AS (SELECT rm.query_id, rm.neighbor_id, rm.rel,
         |  max(p.sim) AS mxs
         |  FROM rem${r - 1} rm
         |  JOIN selall${r - 1} s ON s.query_id = rm.query_id
         |  JOIN sims p ON p.query_id = rm.query_id
         |    AND p.cand_id = rm.neighbor_id AND p.other_id = s.neighbor_id
         |  GROUP BY 1, 2, 3),
         |sel$r AS (SELECT query_id, $r AS pos, neighbor_id, rel,
         |  0.5 * rel - 0.5 * mxs AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY 0.5 * rel - 0.5 * mxs DESC, neighbor_id) AS rn
         |    FROM mx$r) WHERE rn = 1),
         |selall$r AS (SELECT * FROM selall${r - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM sel$r),
         |rem$r AS (SELECT rm.* FROM rem${r - 1} rm WHERE NOT EXISTS
         |  (SELECT 1 FROM sel$r s WHERE s.query_id = rm.query_id
         |    AND s.neighbor_id = rm.neighbor_id))""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to selectK).map(r => s"SELECT * FROM sel$r")
      .mkString(" UNION ALL ")
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS query_id, nv AS nqv FROM n
       |  WHERE vec_id IN ($ids)),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |  ${dotSql("q.nqv", "c.nv")} AS rel
       |  FROM n c CROSS JOIN q WHERE q.query_id <> c.vec_id),
       |cand AS (SELECT query_id, neighbor_id, rel FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, neighbor_id) AS rn FROM sc)
       |  WHERE rn <= $candidateK),
       |cv AS (SELECT cand.query_id, cand.neighbor_id, n.nv
       |  FROM cand JOIN n ON n.vec_id = cand.neighbor_id),
       |sims AS (SELECT l.query_id, l.neighbor_id AS cand_id,
       |  r.neighbor_id AS other_id, ${dotSql("l.nv", "r.nv")} AS sim
       |  FROM cv l JOIN cv r ON l.query_id = r.query_id
       |    AND l.neighbor_id <> r.neighbor_id),
       |sel1 AS (SELECT query_id, 1 AS pos, neighbor_id, rel,
       |  0.5 * rel AS mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY 0.5 * rel DESC, neighbor_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |selall1 AS (SELECT query_id, neighbor_id FROM sel1),
       |rem1 AS (SELECT c.* FROM cand c WHERE NOT EXISTS
       |  (SELECT 1 FROM selall1 s WHERE s.query_id = c.query_id
       |    AND s.neighbor_id = c.neighbor_id)),
       |$rounds
       |SELECT query_id, cast(pos AS INT) AS pos, neighbor_id,
       |  rel AS relevance, round(mmr, 9) AS mmr_score
       |FROM ($unioned) ORDER BY query_id, pos""".stripMargin
  }

  /** Exact α=1/2 EWMA of daily value totals — twin of
    * Events.ewmaDaily: the identical power-of-two integer-weighted
    * cumulative numerator in HUGEINT (the DECIMAL(38,0) twin), one
    * identical double division chain per row.
    */
  val ewmaDaily: String =
    """WITH daily AS (SELECT event_type, ts::DATE AS day,
      |  count(*)::BIGINT AS n_events,
      |  sum(value::DECIMAL(18,6)) AS x FROM events GROUP BY 1, 2),
      |idx AS (SELECT *, (x * 1000000)::HUGEINT AS xu,
      |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |ws AS (SELECT *, CASE WHEN i = 1 THEN 1::HUGEINT
      |    ELSE (1::BIGINT << (i - 2))::HUGEINT END AS w FROM idx),
      |cum AS (SELECT *, sum(w * xu) OVER (PARTITION BY event_type
      |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |  AS s FROM ws),
      |den AS (SELECT *, ((1::BIGINT << (i - 1))::HUGEINT * 10) AS d
      |  FROM cum)
      |SELECT event_type, day, n_events,
      |  round(x::DOUBLE, 5) AS day_value,
      |  (((2 * s + d) // (2 * d))::DOUBLE / 100000.0) AS ewma
      |FROM den ORDER BY event_type, day""".stripMargin

  /** Fellegi–Sunter linkage scores — twin of Dedup.linkageScores over
    * the sortedNeighborhood candidate pairs on part: the same
    * data-estimated u_f = Σc²/n² chance agreements, scale-9
    * quantized-ln weights from single double divisions of exact
    * HUGEINT products, exact DECIMAL score sums and DECIMAL threshold
    * compares.
    */
  def linkageScores(fields: Seq[String], window: Int, blockLen: Int,
      mNum: Int, mDen: Int, upper: String, lower: String): String = {
    val statCtes = fields.map { f =>
      s"""vc_$f AS (SELECT $f AS v, count(*)::HUGEINT AS c
         |  FROM part GROUP BY 1),
         |t_$f AS (SELECT sum(c * c) AS ssq, sum(c) AS n FROM vc_$f),
         |w_$f AS (SELECT vc_$f.v,
         |  round(ln(($mNum * t.n)::DOUBLE / ($mDen * vc_$f.c)::DOUBLE), 9)
         |    ::DECIMAL(18,9) AS wa,
         |  round(ln((${mDen - mNum} * t.n * t.n)::DOUBLE
         |    / ($mDen * (t.n * t.n - t.ssq))::DOUBLE), 9)::DECIMAL(18,9)
         |    AS wd
         |  FROM vc_$f CROSS JOIN t_$f t)""".stripMargin
    }.mkString(",\n")
    val scoreExpr = fields.map(f =>
      s"CASE WHEN a.$f = b.$f THEN w_$f.wa ELSE w_$f.wd END")
      .mkString(" + ")
    val agreeExpr = fields.map(f =>
      s"CASE WHEN a.$f = b.$f THEN 1 ELSE 0 END").mkString(" + ")
    val crossJoins = fields.map(f =>
      s"JOIN w_$f ON a.$f IS NOT DISTINCT FROM w_$f.v").mkString(" ")
    s"""WITH base AS (SELECT p_partkey AS id,
       |  trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS k
       |  FROM part),
       |r AS MATERIALIZED (SELECT id, substr(k, 1, $blockLen) AS blk,
       |  k, row_number() OVER (PARTITION BY substr(k, 1, $blockLen)
       |    ORDER BY k, id) AS rn
       |  FROM base),
       |p AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM r a JOIN r b ON a.blk = b.blk
       |  AND b.rn > a.rn AND b.rn <= a.rn + ${window - 1}),
       |$statCtes
       |SELECT p.id_a, p.id_b,
       |  ($agreeExpr)::BIGINT AS n_agree,
       |  round(($scoreExpr)::DOUBLE, 5) AS score,
       |  CASE WHEN ($scoreExpr) > $upper::DECIMAL(18,9) THEN 'match'
       |    WHEN ($scoreExpr) >= $lower::DECIMAL(18,9) THEN 'possible'
       |    ELSE 'non_match' END AS verdict
       |FROM p JOIN part a ON a.p_partkey = p.id_a
       |JOIN part b ON b.p_partkey = p.id_b $crossJoins
       |ORDER BY p.id_a, p.id_b""".stripMargin
  }

  /** Golden-record materialization — twin of Dedup.goldenRecords:
    * the [[linkageScores]] twin nested as the match-edge stage, the
    * [[dedupClusters]] recursive min-reachable-id closure over every
    * part id, then per-field majority survivorship ((count desc,
    * value) rank 1) and the canonical name from the component-label
    * member.
    */
  def goldenRecords(fields: Seq[String], window: Int, blockLen: Int,
      mNum: Int, mDen: Int, upper: String, lower: String): String = {
    val fvCtes = fields.map { f =>
      s"""fv_$f AS (SELECT cluster_id, $f AS v, count(*)::BIGINT AS c
         |  FROM mem GROUP BY 1, 2),
         |g_$f AS (SELECT cluster_id, v AS golden_$f FROM (SELECT *,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY c DESC, v) AS rn FROM fv_$f) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val gJoins = fields.map(f => s"JOIN g_$f USING (cluster_id)").mkString(" ")
    val gCols = fields.map(f => s"golden_$f").mkString(", ")
    s"""WITH RECURSIVE m AS (
       |  SELECT id_a, id_b FROM (
       |    ${linkageScores(fields, window, blockLen, mNum, mDen, upper, lower)}
       |  ) WHERE verdict = 'match'),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM m
       |  UNION ALL SELECT id_b, id_a FROM m),
       |reach AS (
       |  SELECT p_partkey AS id, p_partkey AS label FROM part
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
       |mem AS (SELECT cc.cluster_id, p.* FROM cc
       |  JOIN part p ON p.p_partkey = cc.id),
       |sizes AS (SELECT cluster_id, count(*)::BIGINT AS n_members
       |  FROM cc GROUP BY 1),
       |canon AS (SELECT cc.cluster_id, p.p_name AS canonical_p_name
       |  FROM cc JOIN part p ON p.p_partkey = cc.id
       |  WHERE cc.id = cc.cluster_id),
       |$fvCtes
       |SELECT cluster_id, n_members, canonical_p_name, $gCols
       |FROM sizes JOIN canon USING (cluster_id) $gJoins
       |ORDER BY cluster_id""".stripMargin
  }

  /** Split-conformal OLS intervals — twin of Stats.conformalOls over
    * (source, quality_score ~ n_chars): the same md5-uniform three-way
    * split, exact DECIMAL(19,6) train moments, the olsRegression
    * fixed double dag for slope/intercept/residuals, rank-k
    * calibration order statistic (ties by doc_id), integer-ceil
    * conformal rank, and the decAvg5 HALF-UP coverage rendering.
    */
  def conformalOls(covNum: Int, covDen: Int): String =
    s"""WITH $toksCte,
       |q AS MATERIALIZED (SELECT d.doc_id, d.source, d.n_chars::DOUBLE AS x,
       |  $qualityScoreSql AS y, ${hashUniformSql("conformal")} AS u
       |  FROM documents d JOIN toks USING (doc_id)),
       |s AS (SELECT doc_id, source, x, y,
       |  CASE WHEN u < 0.5 THEN 'train' WHEN u < 0.75 THEN 'cal'
       |    ELSE 'test' END AS split FROM q),
       |f AS (SELECT source, count(*)::BIGINT AS n_train,
       |  sum(x::DECIMAL(19,6)) AS sx, sum(y::DECIMAL(19,6)) AS sy,
       |  sum(x::DECIMAL(19,6) * x::DECIMAL(19,6)) AS sxx,
       |  sum(x::DECIMAL(19,6) * y::DECIMAL(19,6)) AS sxy
       |  FROM s WHERE split = 'train' GROUP BY 1),
       |g AS (SELECT source, n_train,
       |  CASE WHEN n_train::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
       |    THEN (n_train::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |      / (n_train::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       |  END AS b,
       |  CASE WHEN n_train::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
       |    THEN (sy::DOUBLE -
       |      (n_train::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |      / (n_train::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       |      * sx::DOUBLE) / n_train::DOUBLE
       |  END AS a
       |  FROM f),
       |sc AS (SELECT s.doc_id, s.source, s.split,
       |  abs(s.y - (g.a + g.b * s.x)) AS r
       |  FROM s JOIN g USING (source) WHERE s.split <> 'train'),
       |cn AS (SELECT source, count(*)::BIGINT AS n_cal FROM sc
       |  WHERE split = 'cal' GROUP BY 1),
       |ck AS (SELECT source, n_cal,
       |  least(((n_cal + 1) * $covNum + $covDen - 1) // $covDen, n_cal) AS k
       |  FROM cn),
       |cr AS (SELECT source, r, row_number() OVER
       |  (PARTITION BY source ORDER BY r, doc_id) AS rn
       |  FROM sc WHERE split = 'cal'),
       |qh AS (SELECT cr.source, cr.r AS qhat FROM cr
       |  JOIN ck ON cr.source = ck.source AND cr.rn = ck.k),
       |t AS (SELECT sc.source, count(*)::BIGINT AS n_test,
       |    sum(CASE WHEN sc.r <= qh.qhat THEN 1 ELSE 0 END)::BIGINT AS n_cov
       |  FROM sc LEFT JOIN qh USING (source) WHERE sc.split = 'test'
       |  GROUP BY 1)
       |SELECT t.source, coalesce(cn.n_cal, 0)::BIGINT AS n_cal, t.n_test,
       |  round(g.a, 5) AS intercept, round(g.b, 5) AS slope,
       |  round(qh.qhat, 5) AS qhat,
       |  CASE WHEN qh.qhat IS NOT NULL THEN t.n_cov END AS n_covered,
       |  CASE WHEN qh.qhat IS NOT NULL AND t.n_test > 0 THEN
       |    floor((t.n_cov * 200000 + t.n_test)::DOUBLE
       |      / (t.n_test * 2)::DOUBLE) / 100000.0 END AS coverage
       |FROM t LEFT JOIN qh USING (source) LEFT JOIN cn USING (source)
       |JOIN g USING (source)
       |ORDER BY t.source""".stripMargin
}
