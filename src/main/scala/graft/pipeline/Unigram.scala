package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization" /
  * SentencePiece — public), the second canonical subword algorithm next to
  * BPE ([[TextAnalysis]] q_bpe_train). Deterministic hard-EM variant built
  * for oracle parity:
  *
  *  - **Seed**: the word-frequency table (ONE corpus scan — the q_bpe_train
  *    discipline), then all substrings of length 1..[[PL]] counted
  *    freq-weighted; vocab = all 26 single chars (always kept, coverage
  *    guarantee) + the top [[SEED_MULTI]] multi-char substrings, tie-break
  *    pinned to (count desc, piece asc).
  *  - **Scores**: add-one integer log-probs,
  *    `floor(ln((cnt+1)/(tot+V)) * 1e6)` — the engine-portable quantized-ln
  *    form every existing gate uses (q_perplexity_lm, q_bm25_rank).
  *  - **E-step**: per word, Viterbi max-sum DP over positions (prefix AND
  *    suffix best arrays, map-side `aggregate` HOF folds — nothing leaves
  *    the row). Re-estimated counts use **optimal-edge counting**: a piece
  *    occurrence (i, k) is counted iff `pre[i] + score + suf[i+k] ==
  *    pre[len]` — i.e. it lies on SOME optimal segmentation. Unlike "count
  *    the argmax path", this is deterministic under score ties (both
  *    engines compute the same edge SET without tie-break conventions on
  *    whole paths).
  *  - **M-step**: new scores from the re-estimated counts; [[EM_ROUNDS]]
  *    rounds. Each round's score table is a ≤V-row driver pull that becomes
  *    the next round's literal score map — the q_bpe_train argmax-pull
  *    precedent (the decision shapes the next round's PLAN).
  *
  * Words are restricted to pure ASCII lowercase (engine-portable
  * `translate` test, not a regex — see q_bpe_train's scaladoc) and to
  * length ≤ [[WL]]: the trained contract covers words ≤ WL, longer words
  * fall to a byte/char fallback outside this gate (SentencePiece similarly
  * caps trainable sentence pieces). Both the Spark build and the DuckDB
  * oracle apply the identical rule.
  *
  * 100 TB shape: one corpus scan into the word-frequency table; every EM
  * round is vocab-bound (the DP is a per-row fold, the only exchange is
  * the ≤V-key piece count with map-side partial aggregation), and the
  * driver holds ≤V rows per round. The reference's tokenizer surface is
  * the word/token statistics family (datafusion-dist exposes token
  * counting over scanned text; see reference test corpus); the trainer
  * itself is the standard LLM-pipeline extension this library adds.
  *
  * Oracle: the full chain — seed counts, vocab pick, quantized scores, and
  * BOTH DP arrays as carry-4 recursive CTEs (window of the last PL best
  * values per row) — is replayed in SQL. Piece lookups inside the
  * recursive members are LEFT JOINs: correlated scalar subqueries against
  * computed CTEs misbehave (return NULL) inside DuckDB recursive members,
  * and the small score CTEs are MATERIALIZED so the recursion's per-step
  * joins don't re-evaluate the upstream EM chain exponentially.
  */
object Unigram {
  private val WL = 12 // max trained word length (longer -> fallback path)
  private val PL = 4 // max piece length
  private val SEED_MULTI = 48 // multi-char seed pieces kept
  private val EM_ROUNDS = 2
  private val MINF = -1000000000000000L
  private val COMP = 1024L // composite-DP scale: score*COMP - pieces

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  /** The one corpus scan: ascii-lowercase word frequencies, length ≤ WL. */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      .filter(expr("length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0" +
        s" AND length(w) <= $WL"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Literal score-map SQL. Pieces are guaranteed [a-z]+ upstream; the
    * require makes interpolation injection-impossible (q_bpe_train
    * precedent). */
  private def scoreMapSql(scores: Seq[(String, Long)]): String = {
    scores.foreach { case (p, _) =>
      require(p.nonEmpty && p.forall(c => c >= 'a' && c <= 'z'),
        s"non-[a-z] piece: $p")
    }
    "map(" + scores.map { case (p, v) => s"'$p', ${v}L" }.mkString(", ") + ")"
  }

  private def lk(mapCol: String, piece: String): String =
    s"coalesce(element_at($mapCol, $piece), ${MINF}L)"

  /** Prefix Viterbi array: element i+1 = best score of segmenting w[0,i).
    * best[j] = max over k=1..min(PL,j) of best[j-k] + score(w[j-k, j)). */
  private def preFold(mapCol: String): String = {
    val terms = (1 to PL).map { k =>
      val t = s"element_at(acc, j - ${k - 1}) + " +
        lk(mapCol, s"substring(w, j - ${k - 1}, $k)")
      if (k == 1) t else s"IF(j >= $k, $t, ${MINF}L)"
    }.mkString(", ")
    s"aggregate(sequence(1, length(w)), array(0L), " +
      s"(acc, j) -> concat(acc, array(greatest($terms))))"
  }

  /** Suffix Viterbi array: element m = best score of segmenting
    * w[len-m+1, len). Iteration t fills suf[len - t]. */
  private def sufFold(mapCol: String): String = {
    val terms = (1 to PL).map { k =>
      val t = s"element_at(acc, t - ${k - 1}) + " +
        lk(mapCol, s"substring(w, length(w) - t + 1, $k)")
      if (k == 1) t else s"IF(t >= $k, $t, ${MINF}L)"
    }.mkString(", ")
    s"aggregate(sequence(1, length(w)), array(0L), " +
      s"(acc, t) -> concat(acc, array(greatest($terms))))"
  }

  /** The (i, k) occurrence grid of a word as an exploded column. */
  private val gridExpr: String =
    s"""flatten(transform(sequence(0, length(w) - 1),
          i -> filter(transform(sequence(1, $PL), k -> named_struct('i', i, 'k', k)),
                      p -> p.i + p.k <= length(w))))"""

  /** E-step: freq-weighted optimal-edge counts under a literal score map.
    * Map-side DP folds + grid filter; the only exchange is the ≤V-key
    * piece aggregate. */
  private def emCounts(words: DataFrame, scores: Seq[(String, Long)]): DataFrame =
    words
      .withColumn("scm", expr(scoreMapSql(scores)))
      .withColumn("pre", expr(preFold("scm")))
      .withColumn("suf", expr(sufFold("scm")))
      .select(col("w"), col("cnt"), col("pre"), col("suf"), col("scm"),
        explode(expr(gridExpr)).as("e"))
      .withColumn("piece", expr("substring(w, e.i + 1, e.k)"))
      .filter(expr(s"""element_at(pre, e.i + 1)
          + ${lk("scm", "piece")}
          + element_at(suf, length(w) - (e.i + e.k) + 1)
          = element_at(pre, length(w) + 1)"""))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))

  private def scoresOf(cnts: Seq[(String, Long)], v: Int): Seq[(String, Long)] = {
    val tot = cnts.map(_._2).sum + v
    cnts.map { case (p, c) =>
      p -> math.floor(math.log((c + 1).toDouble / tot.toDouble) * 1e6).toLong
    }
  }

  /** Seed + all EM rounds but the last E-step. Returns the checkpointed
    * word table, per-piece (seed count, count after each completed round),
    * and the score table feeding the FINAL E-step — which each consumer
    * runs distributed as its own last stage.
    *
    * Cached once per corpus content per JVM (the bpeLearn store
    * discipline): BOTH gated consumers (q_unigram_train, q_unigram_encode)
    * replay the identical seed + EM recurrence, each paying the corpus
    * scan plus [[EM_ROUNDS]] driver-pull rounds. The word table is an
    * entry of the [[Tables]] store table; the driver-side EM state pins
    * via [[Tables.keyedOnce]] on the token that entry was served under and
    * is derived from the served words, so the pair can never
    * desynchronize. */
  private val uniStateCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[
      (Seq[(String, Seq[Long])], Seq[(String, Long)], Int)]]()

  private[graft] def learnCore(s: SparkSession, d: String)
      : (DataFrame, Seq[(String, Seq[Long])], Seq[(String, Long)], Int) = {
    // The EM state keys on the token the word STORE was served under
    // (ADVICE r12 / bpeLearn discipline) — recomputing the token after
    // the serve raced an in-place corpus regen: state derived from the
    // old words could pin under the new token and serve a mismatched
    // (words, state) pair until the NEXT regen.
    val (token, served) = Tables.contentKeyedTempParquetKeyed(s,
      s"$d/documents.parquet", "graft-uniword-store")(_ => wordTable(s, d))
    val words = served.localCheckpoint()
    val (hist, sc, v) =
      Tables.keyedOnce(uniStateCache, token)(Tables.staleSibling(token, _)) {
        learnState(words)
      }
    (words, hist, sc, v)
  }

  private def learnState(words: DataFrame)
      : (Seq[(String, Seq[Long])], Seq[(String, Long)], Int) = {
    val grid = words
      .select(col("w"), col("cnt"), explode(expr(gridExpr)).as("e"))
      .select(expr("substring(w, e.i + 1, e.k)").as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
    // Two decision-grain pulls (≤26 and ≤SEED_MULTI rows): the vocab pick
    // becomes the literal score map of round 1 — it shapes the plan.
    val singleCnt = grid.filter(length(col("piece")) === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val multi = grid.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(SEED_MULTI).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val seed: Seq[(String, Long)] =
      ('a' to 'z').map(c => c.toString -> singleCnt.getOrElse(c.toString, 0L)) ++ multi
    val v = seed.size
    var hist: Seq[(String, Seq[Long])] = seed.map { case (p, c) => p -> Seq(c) }
    var sc = scoresOf(seed, v)
    for (_ <- 1 until EM_ROUNDS) {
      val pulled = emCounts(words, sc).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val cnts = seed.map { case (p, _) => p -> pulled.getOrElse(p, 0L) }
      hist = hist.zip(cnts).map { case ((p, h), (_, c)) => p -> (h :+ c) }
      sc = scoresOf(cnts, v)
    }
    (hist, sc, v)
  }

  // ---------------------------------------------------------------- oracle

  /** Carry-PL recursive DP CTEs `pre{tag}`/`suf{tag}` under score CTE
    * `{sct}(piece, sc)`. See the object scaladoc for the LEFT JOIN /
    * MATERIALIZED constraints these encode. */
  private def dpCtes(tag: String, sct: String, preOnly: Boolean): String = {
    val preTerms = (1 to PL).map(k =>
      s"CASE WHEN p.j >= ${k - 1} THEN p.b${k - 1} + COALESCE(x$k.sc, $MINF) ELSE $MINF END")
      .mkString(",\n            ")
    val preJoins = (1 to PL).map(k =>
      s"LEFT JOIN $sct x$k ON x$k.piece = substr(p.w, p.j + 2 - $k, $k)")
      .mkString("\n      ")
    val sufTerms = (1 to PL).map(k =>
      s"CASE WHEN length(p.w) - p.j >= ${k - 1} THEN p.s${k - 1} + COALESCE(y$k.sc, $MINF) ELSE $MINF END")
      .mkString(",\n            ")
    val sufJoins = (1 to PL).map(k =>
      s"LEFT JOIN $sct y$k ON y$k.piece = substr(p.w, p.j, $k)")
      .mkString("\n      ")
    val minfs = Seq.fill(PL - 1)(s"CAST($MINF AS BIGINT)").mkString(", ")
    val pre = s"""
      pre$tag(w, j, b0, b1, b2, b3) AS (
        SELECT w, 0, CAST(0 AS BIGINT), $minfs FROM w0
        UNION ALL
        SELECT p.w, p.j + 1,
          greatest($preTerms),
          p.b0, p.b1, p.b2
        FROM pre$tag p
        $preJoins
        WHERE p.j < length(p.w))"""
    val suf = s"""
      suf$tag(w, j, s0, s1, s2, s3) AS (
        SELECT w, length(w), CAST(0 AS BIGINT), $minfs FROM w0
        UNION ALL
        SELECT p.w, p.j - 1,
          greatest($sufTerms),
          p.s0, p.s1, p.s2
        FROM suf$tag p
        $sufJoins
        WHERE p.j > 0)"""
    if (preOnly) pre else s"$pre,\n$suf"
  }

  /** E-step counts CTE `em{tag}(piece, cnt)` from `pre{tag}`/`suf{tag}`. */
  private def emCte(tag: String, sct: String): String = s"""
    em$tag AS MATERIALIZED (
      SELECT v.piece, CAST(COALESCE(SUM(o.cnt), 0) AS BIGINT) AS cnt
      FROM vocab v LEFT JOIN (
        SELECT substr(e.w, e.i + 1, e.k) AS piece, e.cnt
        FROM (
          SELECT w.w, w.cnt, t.i, u.k
          FROM w0 w, unnest(range(0, length(w.w))) AS t(i),
               unnest(range(1, ${PL + 1})) AS u(k)
          WHERE t.i + u.k <= length(w.w)) e
        JOIN pre$tag p ON p.w = e.w AND p.j = e.i
        JOIN suf$tag s ON s.w = e.w AND s.j = e.i + e.k
        JOIN pre$tag pt ON pt.w = e.w AND pt.j = length(e.w)
        JOIN $sct v2 ON v2.piece = substr(e.w, e.i + 1, e.k)
        WHERE p.b0 + v2.sc + s.s0 = pt.b0) o ON o.piece = v.piece
      GROUP BY v.piece)"""

  private def scoreCte(name: String, cntsFrom: String): String = s"""
    $name AS MATERIALIZED (
      SELECT piece, CAST(FLOOR(ln(CAST(cnt + 1 AS DOUBLE) /
        CAST((SELECT SUM(cnt) FROM $cntsFrom) + (SELECT nv FROM vtot) AS DOUBLE)) * 1e6)
        AS BIGINT) AS sc
      FROM $cntsFrom)"""

  /** Shared oracle prefix: word table, seed grid, vocab pick, and the two
    * completed EM rounds (scores s0/s1, counts em1/em2). */
  private def baseCtes: String = s"""
    w0 AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t
      WHERE length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0
        AND length(w) <= $WL
      GROUP BY w),
    grid AS MATERIALIZED (
      SELECT substr(w.w, t.i + 1, u.k) AS piece, CAST(SUM(w.cnt) AS BIGINT) AS cnt
      FROM w0 w, unnest(range(0, length(w.w))) AS t(i),
           unnest(range(1, ${PL + 1})) AS u(k)
      WHERE t.i + u.k <= length(w.w)
      GROUP BY 1),
    vocab AS MATERIALIZED (
      SELECT c.piece, CAST(COALESCE(g.cnt, 0) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split('abcdefghijklmnopqrstuvwxyz', '')) AS piece) c
      LEFT JOIN grid g ON g.piece = c.piece
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM grid WHERE length(piece) >= 2
        ORDER BY cnt DESC, piece LIMIT $SEED_MULTI) m),
    vtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM vocab),
    ${scoreCte("s0", "vocab")},
    ${dpCtes("1", "s0", preOnly = false)},
    ${emCte("1", "s0")},
    ${scoreCte("s1", "em1")},
    ${dpCtes("2", "s1", preOnly = false)},
    ${emCte("2", "s1")}"""

  // --------------------------------------------------------------- queries

  /** The trained tokenizer state: per piece, the seed count, each EM
    * round's re-estimated count, and the final quantized log-prob. The
    * last E-step (counts under s1) and the final score computation run
    * distributed — only rounds that shape a later plan are pulled. */
  private val unigramTrain = QueryDef(
    "q_unigram_train",
    (s, d) => {
      val (words, hist, s1, v) = learnCore(s, d)
      val sess = s
      import sess.implicits._
      val vocabLit = hist.map { case (p, h) => (p, h.head, h(1)) }
        .toDF("piece", "cnt_seed", "cnt_em1")
      val em2 = vocabLit
        .join(emCounts(words, s1).withColumnRenamed("cnt", "cnt_em2"),
          Seq("piece"), "left")
        .na.fill(0L, Seq("cnt_em2"))
      val tot = em2.agg((sum(col("cnt_em2")) + lit(v.toLong)).as("tot"))
      em2.crossJoin(broadcast(tot))
        .select(col("piece"), col("cnt_seed"), col("cnt_em1"), col("cnt_em2"),
          floor(log((col("cnt_em2") + lit(1L)).cast("double") /
            col("tot").cast("double")) * lit(1e6)).as("score_e6"))
    },
    Some(s"""WITH RECURSIVE $baseCtes
      SELECT v.piece, v.cnt AS cnt_seed, e1.cnt AS cnt_em1, e2.cnt AS cnt_em2,
        CAST(FLOOR(ln(CAST(e2.cnt + 1 AS DOUBLE) /
          CAST((SELECT SUM(cnt) FROM em2) + (SELECT nv FROM vtot) AS DOUBLE)) * 1e6)
          AS BIGINT) AS score_e6
      FROM vocab v JOIN em1 e1 USING (piece) JOIN em2 e2 USING (piece)"""))

  /** The ENCODE path: retokenize the corpus under the final scores. Per
    * word, the piece count of the Viterbi segmentation — via a composite
    * DP over `score*COMP - 1` per edge (COMP = 1024 > any word's piece
    * count, so the max composite is lexicographic (max score, min
    * pieces) and `n_pieces = plain_total*COMP - comp_total` is
    * deterministic even when several segmentations tie on score). The
    * corpus is touched by one scan joining token instances to the
    * broadcast vocab-grain (word -> n_pieces) dictionary — the
    * q_bpe_encode shape; only the doc-grain partial aggregate shuffles. */
  private val unigramEncode = QueryDef(
    "q_unigram_encode",
    (s, d) => {
      val (words, hist, s1, v) = learnCore(s, d)
      val pulled = emCounts(words, s1).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val s2 = scoresOf(hist.map { case (p, _) => p -> pulled.getOrElse(p, 0L) }, v)
      val s2c = s2.map { case (p, x) => p -> (x * COMP - 1L) }
      val np = words
        .withColumn("scmp", expr(scoreMapSql(s2)))
        .withColumn("scmc", expr(scoreMapSql(s2c)))
        .select(col("w"),
          (expr(s"element_at(${preFold("scmp")}, length(w) + 1)") * lit(COMP) -
            expr(s"element_at(${preFold("scmc")}, length(w) + 1)")).as("n_pieces"))
      docs(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
        .filter(expr("length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0" +
          s" AND length(w) <= $WL"))
        .join(broadcast(np), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          expr("(n_pieces * CAST(1000000 AS BIGINT)) div n_words").as("fanout_e6"))
    },
    Some(s"""WITH RECURSIVE $baseCtes,
      ${scoreCte("s2", "em2")},
      s2c AS MATERIALIZED (SELECT piece, sc * $COMP - 1 AS sc FROM s2),
      ${dpCtes("p", "s2", preOnly = true)},
      ${dpCtes("c", "s2c", preOnly = true)},
      np AS MATERIALIZED (
        SELECT w.w, pp.b0 * $COMP - pc.b0 AS n_pieces
        FROM w0 w
        JOIN prep pp ON pp.w = w.w AND pp.j = length(w.w)
        JOIN prec pc ON pc.w = w.w AND pc.j = length(w.w)),
      inst AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
          FROM documents) t
        WHERE length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0
          AND length(w) <= $WL)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
        (CAST(SUM(n_pieces) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
          AS fanout_e6
      FROM inst JOIN np ON np.w = inst.w GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(unigramTrain, unigramEncode)
}
