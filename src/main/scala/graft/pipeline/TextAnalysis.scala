package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the per-document
  * scoring pass of a training-data pipeline (language ID, quality scoring,
  * token counting, fingerprinting). Everything is expression-level
  * (codegen'd built-ins, no UDFs), so at 100 TB this is a single
  * embarrassingly-parallel scan stage: no shuffle except the final small
  * aggregations.
  */
object TextAnalysis {
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  /** Corpus stats per language: the profiling query every pipeline runs
    * first. Decimal-exact avg per the oracle-parity conventions. */
  private val textStats = QueryDef(
    "q_text_stats",
    (s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("n_chars").cast(DecimalType(18, 2))).cast(DoubleType) /
            count(lit(1))).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          countDistinct(col("source")).as("n_sources")),
    Some("""SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      COUNT(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang"""))

  /** Per-document quality scoring: token count, mean token length,
    * punctuation ratio, stopword ratio, and a keep/drop flag — the C4-style
    * heuristic filter stage. Ratios are floor-truncated at 1e-6 for
    * cross-engine hash stability. */
  private val textQuality = QueryDef(
    "q_text_quality",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')")))
        .withColumn("n_punct",
          length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
        .select(
          col("doc_id"), col("n_tokens"),
          floor(length(col("text")).cast(DoubleType) / col("n_tokens") * 1e6).as("mean_tok_len_e6"),
          floor(col("n_punct").cast(DoubleType) / length(col("text")) * 1e6).as("punct_ratio_e6"),
          floor(col("n_stop").cast(DoubleType) / col("n_tokens") * 1e6).as("stop_ratio_e6"),
          (col("n_tokens") >= 10 && col("n_stop") > 0).as("keep")),
    Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      CAST(FLOOR(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS mean_tok_len_e6,
      CAST(FLOOR(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 1e6) AS BIGINT) AS punct_ratio_e6,
      CAST(FLOOR(CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS DOUBLE) / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS stop_ratio_e6,
      len(string_split(text, ' ')) >= 10 AND
        len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) > 0 AS keep
      FROM documents"""))

  /** Language ID by stopword-marker scoring (n-gram-heuristic family):
    * count hits for per-language marker words, argmax with a deterministic
    * tie order (en > de > fr > es > unk). Pure expressions — at scale this
    * is a map-only stage. */
  private val langId = QueryDef(
    "q_lang_id",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("s_en", size(expr("filter(toks, t -> t = 'the' OR t = 'and' OR t = 'of')")))
        .withColumn("s_de", size(expr("filter(toks, t -> t = 'der' OR t = 'und' OR t = 'die')")))
        .withColumn("s_fr", size(expr("filter(toks, t -> t = 'le' OR t = 'et' OR t = 'la')")))
        .withColumn("s_es", size(expr("filter(toks, t -> t = 'el' OR t = 'y' OR t = 'los')")))
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          when(greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) === 0, "unk")
            .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
            .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
            .when(col("s_fr") >= col("s_es"), "fr")
            .otherwise("es").as("pred_lang")),
    Some("""WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(lower(text),' '), t -> t = 'the' OR t = 'and' OR t = 'of')) s_en,
        len(list_filter(string_split(lower(text),' '), t -> t = 'der' OR t = 'und' OR t = 'die')) s_de,
        len(list_filter(string_split(lower(text),' '), t -> t = 'le' OR t = 'et' OR t = 'la')) s_fr,
        len(list_filter(string_split(lower(text),' '), t -> t = 'el' OR t = 'y' OR t = 'los')) s_es
      FROM documents)
      SELECT doc_id, lang AS labeled_lang,
        CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
             WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
             WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END AS pred_lang
      FROM scored"""))

  /** Token counting with a BPE-ish regex tokenizer (words / numbers /
    * single punctuation), aggregated per source — the billing query of a
    * data pipeline. */
  private val tokenCount = QueryDef(
    "q_token_count",
    (s, d) =>
      docs(s, d)
        .withColumn("n_tok",
          size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("total_tokens"),
          count(lit(1)).as("n_docs"),
          max(col("n_tok")).as("max_doc_tokens")),
    Some("""SELECT source, CAST(SUM(n_tok) AS BIGINT) AS total_tokens, COUNT(*) AS n_docs,
      MAX(n_tok) AS max_doc_tokens FROM (
        SELECT source, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) n_tok
        FROM documents) GROUP BY source"""))

  /** Document fingerprinting: md5 over the sorted distinct token set (a
    * bag-of-words content fingerprint — order-insensitive, so reworded
    * shuffles of the same vocabulary collide, which is the point). */
  private val fingerprint = QueryDef(
    "q_fingerprint",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp")),
    Some("""SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
      FROM documents"""))

  /** Vocabulary building: corpus-wide token frequencies, top 100. The
    * tokenizer-training precursor (BPE/unigram trainers start from exactly
    * this table). Explode + two-phase count means the shuffle carries
    * (token, partial_count) — already combined map-side — and the top-k is
    * TakeOrderedAndProject, never a global sort. Ties are broken by token
    * text so the result is total-ordered and oracle-stable. */
  private val vocab = QueryDef(
    "q_vocab_topk",
    (s, d) =>
      docs(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok"))
        .limit(100),
    Some("""SELECT tok, freq FROM (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE len(tok) > 0
        GROUP BY tok)
      ORDER BY freq DESC, tok LIMIT 100"""))

  /** True rolling-hash fingerprint (Rabin–Karp polynomial over character
    * codes, mod 1e9+7 — the modulus keeps every intermediate product under
    * 3.2e10, inside exact int64 range on both engines; DuckDB *errors* on
    * int64 overflow where Spark wraps, so overflow-freedom is a
    * correctness requirement of the oracle, not a style choice).
    * Complements [[fingerprint]]: md5-bag-of-words is order-insensitive,
    * the rolling hash is order-sensitive — rewordings collide there and
    * differ here. Content-defined chunking at scale anchors on exactly
    * this hash. */
  private val fingerprintRolling = QueryDef(
    "q_fingerprint_rolling",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          expr("""aggregate(filter(split(text, ''), c -> c != ''),
            0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""").as("rh")),
    // Empty-doc guard: DuckDB string_split('','') yields [''] and
    // unicode('') = -1 where Spark's filtered fold yields 0 — same class
    // of edge the multimodal oracle guards.
    Some("""SELECT doc_id,
        CASE WHEN length(text) = 0 THEN 0 ELSE
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(unicode(c) AS BIGINT) for c in string_split(text, '')]),
            (a, b) -> (a * 31 + b) % 1000000007) END AS rh
      FROM documents"""))

  /** TF-IDF keyword extraction: each document's top-3 tokens by
    * tf * ln(N/df) — the feature-weighting stage between tokenization and
    * vocabulary building. Two key-partitioned aggregations (tf per
    * (doc, token), df per token) joined on the token key, then a per-doc
    * ranked window; the token-keyed join co-partitions with the df
    * aggregate, so the corpus shuffles twice total and never by document
    * pair. Scores are floor-truncated at 1e-6 with identical operation
    * order on both engines (ln is the only transcendental; never ROUND
    * it), ties broken by token, so the oracle compares exactly. */
  private val tfidfKeywords = QueryDef(
    "q_tfidf_keywords",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      // r17 (guide §2.4, compute-once): df is derivable from tf's KEYS —
      // the distinct (doc_id, tok) pairs ARE the tf groups — so the
      // second corpus tokenize+explode+distinct pass the old df branch
      // ran is gone. No checkpoint: the two consumers now share an
      // IDENTICAL canonical subtree up to the (doc_id, tok) exchange,
      // which AQE's runtime exchange reuse computes once (the old
      // distinct branch had a DIFFERENT partial-aggregate below its
      // exchange, so nothing was reusable); a checkpoint here would
      // execute the upstream stages at plan-build time and break the
      // build-laziness contract QueriesSpec pins.
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // Corpus size as a broadcast one-row scalar: the plan stays fully
      // lazy (no side job at build time) and the count fuses into the
      // same execution as everything else.
      val n = docs(s, d).agg(count(lit(1)).cast("double").as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_e6").desc, col("tok"))
      tf.join(df, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score_e6",
          floor(col("tf") * log(col("n_docs") / col("df")) * 1e6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("tok"), col("score_e6"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks2 GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM
               (SELECT DISTINCT doc_id, tok FROM toks2) GROUP BY 1),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, tok,
          CAST(FLOOR(tf * ln(n_docs / df) * 1e6) AS BIGINT) AS score_e6
        FROM tf JOIN df USING (tok), n),
      ranked AS (
        SELECT doc_id, tok, score_e6,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score_e6 DESC, tok) AS rk
        FROM scored)
      SELECT doc_id, rk, tok, score_e6 FROM ranked WHERE rk <= 3"""))

  /** IQR outlier filtering: drop documents whose length falls outside
    * [p25 - 1.5*IQR, p75 + 1.5*IQR] — the distribution-adaptive version
    * of the fixed-threshold quality gate (a corpus whose length profile
    * shifts re-tunes itself). The quartile bounds are computed once
    * (exact percentile; linear interpolation of ints at dyadic fractions
    * is bit-exact in double on both engines) and ride a one-row
    * broadcast; the filter itself is map-side. */
  private val outlierFilter = QueryDef(
    "q_outlier_filter",
    (s, d) => {
      val thr = docs(s, d).agg(
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.75)").as("p75"))
      docs(s, d).crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("p25") - lit(1.5) * (col("p75") - col("p25")) &&
          col("n_chars") <= col("p75") + lit(1.5) * (col("p75") - col("p25")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    },
    Some("""WITH thr AS (
        SELECT quantile_cont(n_chars, 0.25) AS p25,
          quantile_cont(n_chars, 0.75) AS p75
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM documents, thr
      WHERE n_chars >= p25 - 1.5 * (p75 - p25)
        AND n_chars <= p75 + 1.5 * (p75 - p25)
      GROUP BY lang"""))

  /** The exploded word-trigram relation (doc_id, gram) — ONE construction
    * shared by q_boilerplate_ngrams and q_decontaminate (ADVICE r16: the
    * transform expr was duplicated verbatim at both sites; an edit to one
    * could silently diverge the gram format between the two queries).
    * Direct element_at concat (r16): concat_ws(slice(...)) allocated a
    * 3-element array per gram; identical strings (split yields no nulls,
    * so concat == concat_ws over these elements). */
  private def docTrigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks)-3),
             i -> concat(element_at(toks, i + 1), ' ',
               element_at(toks, i + 2), ' ', element_at(toks, i + 3)))"""))
        .as("gram"))

  /** Boilerplate phrase detection (the C4-style cleaning pass, adapted to
    * this corpus's bag-of-words text): word trigrams shared by many
    * documents are template/boilerplate candidates. Per-doc trigram
    * enumeration is a pure map stage (`transform` over a sequence — no
    * UDF), then one gram-keyed aggregate; at 100 TB the shuffle carries
    * (gram, doc_id) pairs, never document text. */
  private val boilerplate = QueryDef(
    "q_boilerplate_ngrams",
    (s, d) => {
      val grams = docTrigrams(s, d)
      grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 5)
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(50)
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      grams AS (
        SELECT doc_id,
          unnest([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(0, len(toks)-2)]) AS gram
        FROM t WHERE len(toks) >= 3)
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_occur
      FROM grams GROUP BY 1
      HAVING COUNT(DISTINCT doc_id) >= 5
      ORDER BY n_docs DESC, gram LIMIT 50"""))

  /** BM25 relevance ranking for a fixed term set (k1=1.2, b=0.75) — the
    * retrieval-side scoring pass of a data pipeline. All plumbing is
    * exact integers (tf, df, dl); the only transcendental (ln of the idf)
    * is floor-truncated at 1e-6 PER TERM so the per-doc total is an exact
    * integer sum. Every division/multiply is written in the same
    * structural order in both engines (IEEE ops are exactly rounded, so
    * identical trees give identical doubles). One doc-keyed shuffle for
    * tf⋈dl; df and the avgdl scalar ride broadcasts. */
  /** BM25 document scores for a term set: (doc_id, bm25_e6, n_terms) for
    * every doc matching at least one term. Shared by q_bm25_rank and the
    * hybrid-retrieval fusion ([[Similarity]]'s q_hybrid_retrieval) so the
    * two lexical rankings can never drift apart. Token-keyed aggregations
    * with map-side partial counts; corpus stats ride one broadcast scalar
    * row — linear at any corpus size. */
  private[pipeline] def bm25Scores(s: SparkSession, d: String,
      terms: Seq[String]): DataFrame = {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      // r17 (guide §2.4, compute-once): ONE corpus tokenize+explode pass.
      // The old shape re-derived `toks` THREE times per call (dl for the
      // stats scalar, dl for the score join, the term-filtered tf) — one
      // doc-grain aggregate now carries dl and the per-term counts
      // together, the (doc, term, tf) rows unfold from it by a 3-wide
      // explode (tf > 0 keeps exactly the pairs the filtered groupBy
      // produced), and dl is already a column, so the dl join is gone.
      // `per` feeds the stats scalar AND the score rows as the SAME
      // canonical subtree, so AQE's runtime exchange reuse computes its
      // doc-keyed exchange once (no checkpoint — that would execute the
      // upstream stages at plan-build time, breaking the build-laziness
      // contract QueriesSpec pins; only the cheap doc-grain final
      // aggregate above the reused exchange evaluates per consumer).
      val per = toks.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        terms.map(t =>
          sum(when(col("tok") === t, 1L)).as(s"tf_$t")): _*)
      // Corpus size and avgdl as one broadcast scalar row — no side jobs
      // at build time, same arithmetic tree as before (sum(dl)/n_docs).
      val n = docs(s, d).agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val stats = per.agg(sum(col("dl")).cast(DoubleType).as("sumdl"))
        .crossJoin(broadcast(n))
        .select((col("sumdl") / col("n_docs")).as("avgdl"), col("n_docs"))
      val tf = per.select(col("doc_id"), col("dl"),
          explode(map(terms.flatMap(t =>
            Seq(lit(t), col(s"tf_$t"))): _*)).as(Seq("tok", "tf")))
        .filter(col("tf") > 0)
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("score_e6", floor(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))) *
            lit(1e6)))
        .groupBy(col("doc_id"))
        .agg(sum(col("score_e6")).as("bm25_e6"), count(lit(1)).as("n_terms"))
  }

  /** The probe terms every lexical-ranking gate uses (BM25 + hybrid). */
  private[pipeline] val BM25_TERMS = Seq("spark", "query", "window")

  private val bm25 = QueryDef(
    "q_bm25_rank",
    (s, d) =>
      bm25Scores(s, d, BM25_TERMS)
        .orderBy(col("bm25_e6").desc, col("doc_id"))
        .limit(20),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks2 GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      s AS (SELECT (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl) / n_docs AS avgdl FROM n),
      tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks2
             WHERE tok IN ('spark', 'query', 'window') GROUP BY 1, 2),
      df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id,
          CAST(FLOOR(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)
            AS score_e6
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), n, s)
      SELECT doc_id, CAST(SUM(score_e6) AS BIGINT) AS bm25_e6,
        CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM scored GROUP BY 1
      ORDER BY bm25_e6 DESC, doc_id LIMIT 20"""))

  /** Bigram language-model table: top next-token continuations per token
    * with exact counts (count ranking, no probability division — the
    * ratio adds nothing the rank doesn't already say, and skipping it
    * keeps the result integer-exact). Pair enumeration is a map stage;
    * one (w1, w2) aggregate; the rank window partitions on w1 (bounded by
    * vocabulary size, never corpus size). */
  private val bigramLm = QueryDef(
    "q_bigram_lm",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // Counts from the shared bigram store. Token derivation normalized
      // to the family's filtered stream (r12, empty tokens dropped like
      // every other bigram consumer) — build AND oracle together, so the
      // definition stays engine-identical; on a single-spaced corpus the
      // streams are the same.
      val w = Window.partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2"))
      bigramCounts(s, d)
        .select(col("prev").as("w1"), col("cur").as("w2"), col("c2").as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("w1"), col("rk"), col("w2"), col("cnt"))
    },
    Some("""WITH t AS (
        SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 2),
      bg AS (
        SELECT unnest([toks[i+1] FOR i IN range(0, len(toks)-1)]) AS w1,
               unnest([toks[i+2] FOR i IN range(0, len(toks)-1)]) AS w2
        FROM t),
      counts AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM bg GROUP BY 1, 2),
      ranked AS (
        SELECT w1, w2, cnt,
          ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rk
        FROM counts)
      SELECT w1, rk, w2, cnt FROM ranked WHERE rk <= 3"""))

  /** Train/eval contamination check: word-trigram overlap of every corpus
    * document against a held-out eval slice (doc_id % 97 == 0 stands in
    * for the benchmark set) — the decontamination pass every training
    * pipeline runs before a data release. The eval side's distinct grams
    * are a broadcast (benchmark sets are small by construction); the
    * corpus side streams map-side through the semi join, so no
    * corpus-sized shuffle carries text. Counts are exact integers. */
  private val decontaminate = QueryDef(
    "q_decontaminate",
    (s, d) => {
      val g = docTrigrams(s, d)
      val evalGrams = broadcast(
        g.filter(col("doc_id") % 97 === 0).select(col("gram")).distinct())
      // ONE pass over the corpus grams: a broadcast marker join + a single
      // doc-keyed aggregate computes total and shared counts together.
      // The earlier tot/shared two-branch shape re-ran the corpus explode
      // per consumer (the 100x probe put an 11 s straggler on it) and paid
      // an extra doc-keyed join. evalGrams is distinct, so the left-outer
      // marker matches each gram instance at most once (= the semi count).
      val corpus = g.filter(col("doc_id") % 97 =!= 0)
      corpus.join(evalGrams.withColumn("hit", lit(1L)), Seq("gram"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
        .orderBy(col("n_shared").desc, col("doc_id"))
        .limit(20)
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
          unnest([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(0, len(toks)-2)]) AS gram
        FROM t WHERE len(toks) >= 3),
      eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      corpus AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
      tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM corpus GROUP BY 1),
      sh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
             FROM corpus WHERE gram IN (SELECT gram FROM eg) GROUP BY 1)
      SELECT doc_id, n_grams, COALESCE(n_shared, 0) AS n_shared
      FROM tot LEFT JOIN sh USING (doc_id)
      ORDER BY n_shared DESC, doc_id LIMIT 20"""))

  /** CCNet-style LM perplexity filtering: score every document by its
    * average negative log-likelihood under an add-one-smoothed bigram model
    * trained on the corpus itself — the model-based fluency gate that runs
    * after rule-based quality filters. p(cur|prev) = (c2+1)/(c1+V), so the
    * per-bigram cost ln((c1+V)/(c2+1)) is ≥ 0; each DISTINCT bigram's cost
    * is floor-truncated at 1e-6 once (the tfidf/bm25 ln-parity convention)
    * and per-doc totals are exact integer sums of those units, so the
    * average (nonneg div nonneg — `div` and `//` agree there) is exact.
    *
    * Scale shape: bigram instances shuffle on (prev, cur) — uniformly
    * distributed keys, ≤ 16 bytes + the doc_id per row, never text; the
    * count and cost aggregates co-partition with that join; the vocabulary
    * size is a one-row broadcast (the Q11/Q22 scalar pattern); the final
    * aggregate keys on doc_id. Nothing is all-pairs, nothing collects. */
  /** The (doc_id, n_bigrams, nll_e6, keep) score table as a content-keyed
    * persisted store — the [[graft.pipeline.Dedup.materializedPairs]]
    * discipline applied to the LM-score family: THREE gated consumers
    * (q_perplexity_lm, q_ccnet_buckets, q_curriculum) each re-ran the
    * full bigram-model build per query. Production persists the score
    * table once per corpus snapshot (CCNet's own pipeline shape) and
    * every gate reads it; freshness rides the corpus content token. */

  private[pipeline] def nllStore(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-nll-store")(perplexityNllBuild(s, d))

  private def perplexityNllBuild(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
      val base = docs(s, d)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
      val inst = base.select(col("doc_id"), explode(expr(
        """transform(sequence(0, n - 2),
             i -> struct(element_at(toks, i + 1) AS prev,
                         element_at(toks, i + 2) AS cur))""")).as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      val c2 = inst.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
      val v = c2.agg(countDistinct(col("cur")).as("v"))
      val cost = c2.join(c1, "prev").crossJoin(broadcast(v))
        .select(col("prev"), col("cur"),
          floor(log((col("c1") + col("v")).cast(DoubleType) /
            (col("c2") + lit(1L)).cast(DoubleType)) * 1e6).cast("long").as("cost_e6"))
      inst.join(cost, Seq("prev", "cur"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cost_e6")).as("sum_e6"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_e6 div n_bigrams").as("nll_e6"))
        .withColumn("keep", col("nll_e6") < 9000000L)
  }

  private val perplexityLm = QueryDef(
    "q_perplexity_lm",
    (s, d) => nllStore(s, d),
    Some("""WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
      inst AS (
        SELECT doc_id, toks[CAST(i + 1 AS BIGINT)] AS prev,
          toks[CAST(i + 2 AS BIGINT)] AS cur
        FROM f, unnest(range(0, n - 1)) AS u(i)),
      c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2 FROM inst GROUP BY 1, 2),
      c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM c2),
      cost AS (
        SELECT c2.prev, c2.cur,
          CAST(FLOOR(ln(CAST(c1.c1 + v.v AS DOUBLE) / CAST(c2.c2 + 1 AS DOUBLE))
            * 1e6) AS BIGINT) AS cost_e6
        FROM c2 JOIN c1 ON c2.prev = c1.prev, v)
      SELECT i.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(cost_e6) AS BIGINT) // CAST(count(*) AS BIGINT) AS nll_e6,
        (CAST(sum(cost_e6) AS BIGINT) // CAST(count(*) AS BIGINT)) < 9000000 AS keep
      FROM inst i JOIN cost c ON i.prev = c.prev AND i.cur = c.cur
      GROUP BY 1"""))

  /** Tokenizer-coverage audit: the fraction of token instances per
    * language that fall OUTSIDE the top-1000 corpus vocabulary — the
    * out-of-vocabulary rate that decides whether a fixed vocab (or a
    * tokenizer's merge table) fits a corpus slice. High per-language OOV
    * = that language is under-served by the vocabulary.
    *
    * The vocabulary is a deterministic top-k (count desc, token asc — a
    * total order, so both engines pick the identical set at the k
    * boundary) via TakeOrderedAndProject, then broadcasts; token
    * instances never shuffle — the only exchange after the vocab build is
    * the bounded lang-keyed rollup. */
  private val oovRate = QueryDef(
    "q_oov_rate",
    (s, d) => {
      val toks = docs(s, d)
        .select(col("lang"), explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(1000)
        .select(col("tok").as("vtok"))
      toks.join(broadcast(vocab), col("tok") === col("vtok"), "left_outer")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_toks"), col("n_oov"),
          floor(col("n_oov").cast(DoubleType) / col("n_toks") * 1e6).as("oov_frac_e6"))
    },
    Some("""WITH toks AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok AS vtok FROM (
          SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
          ORDER BY cnt DESC, tok LIMIT 1000)),
      j AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(sum(CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM toks t LEFT JOIN vocab v ON t.tok = v.vtok
        GROUP BY 1)
      SELECT lang, n_toks, n_oov,
        CAST(FLOOR(CAST(n_oov AS DOUBLE) / n_toks * 1e6) AS BIGINT) AS oov_frac_e6
      FROM j"""))

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995; the
    * smoothing KenLM — and therefore the CCNet pipeline — actually ships,
    * where [[perplexityLm]] carries the simpler add-one form): absolute
    * discount D = 0.75 off every seen bigram, with the reclaimed mass
    * backing off to the CONTINUATION unigram — how many distinct contexts
    * a word follows, not how often it occurs — so boilerplate tokens that
    * are frequent-but-context-bound ("Francisco") stop inflating fluency:
    *
    *   p(cur|prev) = (c2 - D)/c1 + D·N1+(prev,·)/c1 · N1+(·,cur)/N1+(·,·)
    *
    * All counts are exact integers off one bigram-type table; the only
    * floats are the final per-DISTINCT-bigram probability and its
    * floor(-ln·1e6) quantization — the [[perplexityLm]] ln-parity
    * convention, so per-doc totals and the `div` average stay exact.
    *
    * Scale shape is [[perplexityLm]]'s verbatim: bigram instances shuffle
    * once on (prev, cur); c1 / N1+(prev,·) fold out of the type table on
    * the same key; N1+(·,cur) is a vocab-grain rollup; the type count is a
    * one-row broadcast (the Q11/Q22 scalar pattern). The discount adds
    * zero exchanges over add-one — the argument for shipping the better
    * smoother at 100 TB. */
  private val knPerplexity = QueryDef(
    "q_kneser_ney",
    (s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
      val inst = base.select(col("doc_id"), explode(expr(
        """transform(sequence(0, n - 2),
             i -> struct(element_at(toks, i + 1) AS prev,
                         element_at(toks, i + 2) AS cur))""")).as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      // The MODEL side comes from the shared bigram store (identical
      // counts); the doc-grain `inst` above remains — per-doc scoring is
      // this query's output grain and cannot collapse to bigram types.
      val c2 = bigramCounts(s, d)
      // One pass over the type table per side: c1 = token count of prev,
      // n1fw = distinct continuations of prev; n1bw = distinct contexts of
      // cur; t = total bigram types (the continuation-model denominator).
      val left = c2.groupBy(col("prev"))
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fw"))
      val right = c2.groupBy(col("cur")).agg(count(lit(1)).as("n1bw"))
      val t = c2.agg(count(lit(1)).as("t"))
      val cost = c2.join(left, "prev").join(right, "cur").crossJoin(broadcast(t))
        .withColumn("p",
          (col("c2").cast(DoubleType) - lit(0.75)) / col("c1").cast(DoubleType) +
            lit(0.75) * col("n1fw").cast(DoubleType) / col("c1").cast(DoubleType) *
              col("n1bw").cast(DoubleType) / col("t").cast(DoubleType))
        .select(col("prev"), col("cur"),
          floor(-log(col("p")) * 1e6).cast("long").as("cost_e6"))
      inst.join(cost, Seq("prev", "cur"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cost_e6")).as("sum_e6"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_e6 div n_bigrams").as("kn_nll_e6"))
    },
    Some("""WITH t0 AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT doc_id, toks, len(toks) AS n FROM t0 WHERE len(toks) >= 2),
      inst AS (
        SELECT doc_id, toks[CAST(i + 1 AS BIGINT)] AS prev,
          toks[CAST(i + 2 AS BIGINT)] AS cur
        FROM f, unnest(range(0, n - 1)) AS u(i)),
      c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2 FROM inst GROUP BY 1, 2),
      lft AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS n1fw FROM c2 GROUP BY 1),
      rgt AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1bw FROM c2 GROUP BY 1),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c2),
      prob AS (
        SELECT c2.prev, c2.cur,
          (CAST(c2.c2 AS DOUBLE) - 0.75) / CAST(lft.c1 AS DOUBLE) +
            0.75 * CAST(lft.n1fw AS DOUBLE) / CAST(lft.c1 AS DOUBLE) *
              CAST(rgt.n1bw AS DOUBLE) / CAST(tt.t AS DOUBLE) AS p
        FROM c2 JOIN lft ON c2.prev = lft.prev
          JOIN rgt ON c2.cur = rgt.cur, tt),
      cost AS (
        SELECT prev, cur, CAST(FLOOR(-ln(p) * 1e6) AS BIGINT) AS cost_e6
        FROM prob)
      SELECT i.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(cost_e6) AS BIGINT) // CAST(count(*) AS BIGINT) AS kn_nll_e6
      FROM inst i JOIN cost c ON i.prev = c.prev AND i.cur = c.cur
      GROUP BY 1"""))

  /** PMI collocations (Church & Hanks 1990): the top adjacent token pairs
    * by pointwise mutual information — ln(p(x,y)/(p(x)p(y))) over bigram
    * instances, with the standard count floor (c2 >= 5) that keeps
    * hapax-pair PMI (which is maximal by construction) from drowning the
    * list. The canonical collocation/multi-word-expression miner — the
    * vocabulary-building complement to frequency-ranked [[bigramLm]]:
    * tokenizer seeders and phrase-aware indexes want "New York", not
    * "of the". Margins come off the one bigram-type table (cl = instances
    * as left, cr = instances as right, t = total instances), so
    * pmi = ln(c2·t/(cl·cr)), floor-quantized e6 on the identical double
    * expression both engines evaluate. c2·t stays within int64 to ~10^9
    * token instances per corpus slice; past that, rescale counts before
    * the ratio (PMI is shift-invariant under shared rescale — same
    * ranking), the [[Similarity]] quantization-rescale convention.
    *
    * Scale shape: one (prev, cur) instance exchange (the perplexity law);
    * margins fold off the type table on its own keys; the one-row total
    * broadcasts (Q11/Q22 pattern); the top-50 is a total-ordered
    * TakeOrderedAndProject (per-partition bottom-k, never a global
    * sort). */
  private val pmiCollocations = QueryDef(
    "q_pmi_collocations",
    (s, d) => {
      // (prev, cur) counts from the shared bigram store — identical
      // values, one corpus explode per JVM instead of one per query.
      val c2 = bigramCounts(s, d)
      val cl = c2.groupBy(col("prev")).agg(sum(col("c2")).as("cl"))
      val cr = c2.groupBy(col("cur")).agg(sum(col("c2")).as("cr"))
      val t = c2.agg(sum(col("c2")).as("t"))
      c2.filter(col("c2") >= 5)
        .join(cl, "prev").join(cr, "cur").crossJoin(broadcast(t))
        .select(col("prev"), col("cur"), col("c2").as("n"),
          floor(log((col("c2") * col("t")).cast(DoubleType) /
            (col("cl") * col("cr")).cast(DoubleType)) * 1e6).cast("long")
            .as("pmi_e6"))
        .orderBy(col("pmi_e6").desc, col("prev"), col("cur"))
        .limit(50)
    },
    Some("""WITH t0 AS (
        SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT toks, len(toks) AS n FROM t0 WHERE len(toks) >= 2),
      inst AS (
        SELECT toks[CAST(i + 1 AS BIGINT)] AS prev,
          toks[CAST(i + 2 AS BIGINT)] AS cur
        FROM f, unnest(range(0, n - 1)) AS u(i)),
      c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
             FROM inst GROUP BY 1, 2),
      cl AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS cl FROM c2 GROUP BY 1),
      cr AS (SELECT cur, CAST(sum(c2) AS BIGINT) AS cr FROM c2 GROUP BY 1),
      tt AS (SELECT CAST(sum(c2) AS BIGINT) AS t FROM c2)
      SELECT c2.prev, c2.cur, c2.c2 AS n,
        CAST(FLOOR(ln(CAST(c2.c2 * tt.t AS DOUBLE) /
          CAST(cl.cl * cr.cr AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_e6
      FROM c2 JOIN cl ON c2.prev = cl.prev
        JOIN cr ON c2.cur = cr.cur, tt
      WHERE c2.c2 >= 5
      ORDER BY pmi_e6 DESC, c2.prev, c2.cur
      LIMIT 50"""))

  /** TextRank keywords (Mihalcea & Tarau 2004): PageRank over the word
    * co-occurrence graph — undirected edges between adjacent tokens whose
    * bigram count clears a noise floor (>= 3), ranks from the SAME pinned
    * integer recurrence as [[Dedup]]'s q_pagerank (shared helper, so the
    * two graph consumers cannot drift), top-20 words by rank. The
    * graph-centrality complement to [[tfidfKeywords]]' frequency
    * statistics: TextRank promotes words that BRIDGE many contexts, not
    * words that merely repeat — the other classic unsupervised keyword
    * family.
    *
    * Scale shape: the word graph is vocabulary-grain (bigram types, not
    * instances — the corpus collapses map-side in the one instance
    * exchange the perplexity family shares); all 8 rounds move (word,
    * long) pairs on a vocab-bound node set; the top-20 is a bounded
    * TakeOrderedAndProject. Edge canonicalization dedups (a,b)/(b,a)
    * bigram types into ONE undirected edge before symmetrizing —
    * parallel edges would double-count inflow. */
  private val textrank = QueryDef(
    "q_textrank",
    (s, d) => {
      // Bigram counts from the shared store (one corpus explode per JVM);
      // identical values to the inline (prev, cur) aggregate by sum-over-
      // source construction.
      val und = bigramCounts(s, d)
        .filter(col("c2") >= 3 && col("prev") =!= col("cur"))
        .select(least(col("prev"), col("cur")).as("a"),
          greatest(col("prev"), col("cur")).as("b"))
        .distinct()
      GraphOps.integerPagerank(
          und.union(und.select(col("b"), col("a"))))
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
        .select(col("node").as("word"), col("deg"), col("pr").as("pr_e9"))
    },
    Some(s"""WITH t0 AS (
        SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT toks, len(toks) AS n FROM t0 WHERE len(toks) >= 2),
      inst AS (
        SELECT toks[CAST(i + 1 AS BIGINT)] AS prev,
          toks[CAST(i + 2 AS BIGINT)] AS cur
        FROM f, unnest(range(0, n - 1)) AS u(i)),
      c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
             FROM inst GROUP BY 1, 2),
      und AS (
        SELECT DISTINCT LEAST(prev, cur) AS a, GREATEST(prev, cur) AS b
        FROM c2 WHERE c2 >= 3 AND prev <> cur),
      e AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b AS src, a AS dst FROM und),
      ${GraphOps.pagerankCtesSql}
      SELECT node AS word, deg, pr AS pr_e9 FROM r8
      ORDER BY pr DESC, node LIMIT 20"""))

  /** Zipf rank-frequency slope (Zipf 1949): the local exponent of the
    * frequency law between rank anchors 1→10→100→1000, the corpus-shape
    * diagnostic PAIRED with [[vocabGrowth]]'s Heaps exponent (the two laws
    * are duals; together they say whether a corpus slice is natural text,
    * template spam — slope collapses, or ID noise — slope ≈ 0 with Heaps
    * β ≈ 1). slope = (ln f(lo) − ln f(hi)) / (ln hi − ln lo), floor e6,
    * per consecutive anchor pair.
    *
    * Scale shape: one token-keyed count exchange, then a bounded
    * TakeOrderedAndProject(1000) under the deterministic (count desc,
    * token) total order; the rank window runs over those 1000 rows — the
    * bounded-relation window precedent ([[vocabGrowth]]'s 4 rows,
    * q_repeat_allocation's ≤40), never corpus grain; anchors join a
    * 3-row literal. */
  private val zipfSlope = QueryDef(
    "q_zipf_slope",
    (s, d) => {
      val counts = docs(s, d)
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(1000)
      val anchors = counts
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rk").isin(1, 10, 100, 1000))
        .select(col("rk").cast("long").as("rk"), col("cnt"))
      val spans = s.createDataFrame(Seq((1L, 10L), (10L, 100L), (100L, 1000L)))
        .toDF("lo", "hi")
      spans
        .join(broadcast(anchors.select(col("rk").as("rlo"), col("cnt").as("f_lo"))),
          col("lo") === col("rlo"))
        .join(broadcast(anchors.select(col("rk").as("rhi"), col("cnt").as("f_hi"))),
          col("hi") === col("rhi"))
        .select(col("lo"), col("hi"), col("f_lo"), col("f_hi"),
          floor((log(col("f_lo").cast(DoubleType)) - log(col("f_hi").cast(DoubleType))) /
            (log(col("hi").cast(DoubleType)) - log(col("lo").cast(DoubleType))) * 1e6)
            .cast("long").as("zipf_e6"))
    },
    Some("""WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
        FROM documents),
      counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      ranked AS (
        SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk
        FROM counts ORDER BY cnt DESC, tok LIMIT 1000),
      anchors AS (SELECT CAST(rk AS BIGINT) AS rk, cnt FROM ranked
                  WHERE rk IN (1, 10, 100, 1000)),
      spans(lo, hi) AS (VALUES (CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
        (10, 100), (100, 1000))
      SELECT p.lo, p.hi, a.cnt AS f_lo, b.cnt AS f_hi,
        CAST(FLOOR((ln(CAST(a.cnt AS DOUBLE)) - ln(CAST(b.cnt AS DOUBLE))) /
          (ln(CAST(p.hi AS DOUBLE)) - ln(CAST(p.lo AS DOUBLE))) * 1e6) AS BIGINT)
          AS zipf_e6
      FROM spans p JOIN anchors a ON a.rk = p.lo
        JOIN anchors b ON b.rk = p.hi"""))

  /** The FULL Gopher repetition-filter family (Rae et al. 2021, "Scaling
    * Language Models", appendix A1.1 — public; q_quality_repetition in
    * [[Curation]] keeps its simpler two-signal form): documents dominated
    * by repeated
    * n-grams are low-value for LM training. Two signal families over word
    * n-grams, char-mass accounted (count × gram chars, overlapping
    * occurrences included — fractions can exceed 1 on pathological docs;
    * they threshold identically either way):
    *
    *  - top-n-gram fraction (n = 2, 3, 4): characters covered by the
    *    single most frequent n-gram, / len(text). "Most frequent" alone
    *    is ambiguous under count ties, so the tie-break is pinned: count
    *    desc, gram length desc, then lexicographic — both engines rank
    *    identically;
    *  - duplicate-n-gram fraction (n = 5, 10): characters covered by ALL
    *    occurrences of n-grams appearing more than once, / len(text).
    *
    * `keep` applies the paper's thresholds (top: 0.20/0.18/0.16; dup:
    * 0.15 at n=5, 0.10 at n=10). Scale shape: every gram of a document is
    * derivable from the document's own row, so the whole query is ONE
    * map-side pass — per doc and per n, sort the gram array and run-length
    * fold it for (most-frequent gram with the pinned tie-break, duplicated
    * char mass). ZERO shuffle, zero joins at any corpus size (the first
    * explode → (doc, n, gram)-keyed-count formulation moved ~1 GB per 50k
    * docs through an exchange whose keys never crossed a partition —
    * replaced after the r11 stage probe; the unchanged SQL oracle and the
    * PipelineSpec brute force pin the rewrite's equivalence). */
  private val NS_TOP = Seq(2, 3, 4)
  private val NS_DUP = Seq(5, 10)

  /** The interpreted-HOF fold the native `graft_gopher_stats` kernel
    * replaced (r12): kept as the DIFFERENTIAL ORACLE FunctionsSpec runs
    * the kernel against (the cosineHof precedent). Expects columns
    * `toks` (array<string>) in scope; yields struct(topchars, dupchars)
    * for one n.
    */
  private[graft] def gopherStatsHof(n: Int): Column = expr(
    s"""CASE WHEN size(toks) >= $n THEN
              aggregate(
                array_sort(transform(sequence(1, size(toks) - ${n - 1}),
                  i -> concat_ws(' ', slice(toks, i, $n)))),
                named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
                  'bestc', 0L, 'bestg', '', 'dup', 0L),
                (st, x) -> named_struct(
                  'prev', x,
                  'run', IF(x = st.prev, st.run + 1L, 1L),
                  'bestc', IF(IF(x = st.prev, st.run + 1L, 1L) > st.bestc
                      OR (IF(x = st.prev, st.run + 1L, 1L) = st.bestc
                          AND (length(x) > length(st.bestg)
                            OR (length(x) = length(st.bestg) AND x < st.bestg))),
                    IF(x = st.prev, st.run + 1L, 1L), st.bestc),
                  'bestg', IF(IF(x = st.prev, st.run + 1L, 1L) > st.bestc
                      OR (IF(x = st.prev, st.run + 1L, 1L) = st.bestc
                          AND (length(x) > length(st.bestg)
                            OR (length(x) = length(st.bestg) AND x < st.bestg))),
                    x, st.bestg),
                  'dup', st.dup + IF(NOT (x = st.prev) AND st.run >= 2L,
                    st.run * length(st.prev), 0L)),
                st -> named_struct(
                  'topchars', st.bestc * length(st.bestg),
                  'dupchars', st.dup + IF(st.run >= 2L,
                    st.run * length(st.prev), 0L)))
            ELSE named_struct('topchars', 0L, 'dupchars', 0L) END""")

  private val repetition = QueryDef(
    "q_quality_gopher",
    (s, d) => {
      // Every gram of a document lives in the document's own row, so the
      // per-(doc, n, gram) counts are PARTITION-LOCAL facts: the original
      // explode → groupBy plan shuffled ~1 GB of gram rows per 50k docs
      // through an exchange whose keys never crossed a partition (stage
      // probe, r11), and the r11 HOF rewrite still paid five interpreted
      // aggregate() folds per doc — the suite's worst CPU decade law.
      // Since r12 all five statistics come from ONE native codegen kernel
      // ([[graft.functions.GopherStats]]): one joined byte buffer per doc,
      // zero-copy gram views, the identical run-length recurrence compiled
      // — still ZERO shuffle, no join, at any corpus size. Bit-identical
      // to the HOF fold (FunctionsSpec differential) and to the unchanged
      // SQL oracle + PipelineSpec brute force.
      val base = Tables.spreadForRowCpu(docs(s, d))
        .select(col("doc_id"),
          length(col("text")).as("total"), split(col("text"), " ").as("toks"))
      val withStats = base
        .withColumn("gs", call_function("graft_gopher_stats", col("toks")))
      val outCols =
        NS_TOP.map(n =>
          floor(col(s"gs.top${n}c") * lit(1e6) / col("total")).as(s"top${n}_e6")) ++
        NS_DUP.map(n =>
          floor(col(s"gs.dup${n}c") * lit(1e6) / col("total")).as(s"dup${n}_e6"))
      withStats.select(col("doc_id") +: outCols: _*)
        .withColumn("keep",
          col("top2_e6") <= 200000 && col("top3_e6") <= 180000 &&
            col("top4_e6") <= 160000 && col("dup5_e6") <= 150000 &&
            col("dup10_e6") <= 100000)
    },
    Some("""WITH base AS (
        SELECT doc_id, len(text) AS total, string_split(text, ' ') AS toks
        FROM documents),
      g0 AS (
        SELECT doc_id, total, n, toks,
          unnest(generate_series(1, len(toks) - n + 1)) AS i
        FROM base, (VALUES (2), (3), (4), (5), (10)) ns(n)),
      g AS (
        SELECT doc_id, total, n,
          array_to_string(list_slice(toks, i, i + n - 1), ' ') AS g
        FROM g0),
      cnt AS (
        SELECT doc_id, total, n, g, COUNT(*) AS cnt, COUNT(*) * len(g) AS chars
        FROM g GROUP BY 1, 2, 3, 4),
      top AS (
        SELECT doc_id,
          MAX(CASE WHEN n = 2 THEN frac END) AS top2_e6,
          MAX(CASE WHEN n = 3 THEN frac END) AS top3_e6,
          MAX(CASE WHEN n = 4 THEN frac END) AS top4_e6
        FROM (
          SELECT doc_id, n, CAST(FLOOR(chars * 1e6 / total) AS BIGINT) AS frac,
            ROW_NUMBER() OVER (PARTITION BY doc_id, n
              ORDER BY cnt DESC, len(g) DESC, g) AS rn
          FROM cnt WHERE n IN (2, 3, 4)) t
        WHERE rn = 1 GROUP BY 1),
      dup AS (
        SELECT doc_id,
          MAX(CASE WHEN n = 5 THEN frac END) AS dup5_e6,
          MAX(CASE WHEN n = 10 THEN frac END) AS dup10_e6
        FROM (
          SELECT doc_id, n, CAST(FLOOR(SUM(chars) * 1e6 / total) AS BIGINT) AS frac
          FROM cnt WHERE n IN (5, 10) AND cnt >= 2
          GROUP BY doc_id, n, total) t
        GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(top2_e6, 0) AS top2_e6, COALESCE(top3_e6, 0) AS top3_e6,
        COALESCE(top4_e6, 0) AS top4_e6, COALESCE(dup5_e6, 0) AS dup5_e6,
        COALESCE(dup10_e6, 0) AS dup10_e6,
        (COALESCE(top2_e6, 0) <= 200000 AND COALESCE(top3_e6, 0) <= 180000
          AND COALESCE(top4_e6, 0) <= 160000 AND COALESCE(dup5_e6, 0) <= 150000
          AND COALESCE(dup10_e6, 0) <= 100000) AS keep
      FROM documents d LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)"""))

  /** Distributed BPE tokenizer training (Sennrich/Haddow/Birch 2016,
    * "Neural Machine Translation of Rare Words with Subword Units" —
    * public): learn the first [[BPE_MERGES]] merge rules from the corpus.
    * Classic BPE trains on the WORD-FREQUENCY table, not the corpus: the
    * corpus is scanned exactly once (token-keyed count with map-side
    * combines — the q_vocab_topk shape) into a vocab-bound (word, cnt,
    * symbols) table, then every merge round touches only that table.
    * Per round: (a) adjacent symbol pairs explode from the word table
    * (rows ≤ vocab × avg word length) and aggregate on the pair key,
    * cnt-weighted; (b) the argmax pair — tie-break pinned to (count desc,
    * left asc, right asc) so both engines learn the identical table — is
    * a ONE-ROW driver pull (the k-means centroid-pull precedent: the
    * merge decision shapes the next round's PLAN, so it cannot stay a
    * column); (c) the merge applies as a map-only left-to-right greedy
    * fold (`aggregate` HOF) over each word's symbol list — leftmost-first
    * non-overlapping, the classic semantics ("aaa" + (a,a) → [aa, a]).
    * The word table persists across rounds so round r does not replay
    * rounds 1..r-1 against the corpus.
    *
    * Words are restricted to pure-ASCII-lowercase via `translate` (NOT a
    * regex: Java's `$` matches before a final newline where RE2's does
    * not, so anchors are not engine-portable), which also guarantees the
    * learned symbols are `[a-z]+` and safe to interpolate into the next
    * round's expression. The oracle unrolls the same rounds in SQL;
    * greedy-leftmost application is expressed there as island parity —
    * among each run of consecutive candidate positions, every second one
    * merges — which is the same function (proven by the PipelineSpec
    * brute force over the whole corpus).
    *
    * 100 TB shape: one corpus scan; everything after is vocab-bound (real
    * corpora: ~10⁷ distinct words — a few executor partitions), and each
    * round moves ≤ vocab×len pair rows through one exchange. Nothing is
    * ever all-pairs, and the driver holds M rows total. */
  private val BPE_MERGES = 8

  /** The shared learner: one corpus scan into the word-frequency table,
    * then [[BPE_MERGES]] merge rounds (see [[bpeTrain]]'s scaladoc for
    * the full protocol). Returns the learned merge table AND the final
    * (w, cnt, syms) word table with ALL merges applied — [[bpeTrain]]
    * gates the former, [[bpeEncode]] the latter, from one code path so
    * the two gates cannot drift. localCheckpoint per round is
    * load-bearing twice over: it caps the otherwise exponentially
    * nesting fold expression (the fold references `syms` ~6 times, so
    * projection collapse nests round r-1's expression 6x inside round r —
    * 52 MiB task binaries by round 8 when chained), and it truncates
    * lineage so round r never replays rounds 1..r-1. */
  /** Greedy-leftmost merge application as a map-only `aggregate` fold —
    * shared by the BPE and WordPiece learners (only the merge-PICK rule
    * differs between the two algorithms). */
  private def applyMerge(wdf: DataFrame, l: String, r: String): DataFrame = {
    require((l + r).forall(c => c >= 'a' && c <= 'z'), s"non-[a-z] symbol: $l|$r")
    wdf.withColumn("syms", expr(
      s"""CASE WHEN size(syms) < 2 THEN syms ELSE
            aggregate(slice(syms, 2, size(syms) - 1), slice(syms, 1, 1),
              (acc, x) -> IF(element_at(acc, -1) = '$l' AND x = '$r',
                concat(slice(acc, 1, size(acc) - 1), array('${l + r}')),
                concat(acc, array(x))))
          END"""))
  }

  /** The (source, prev, cur, n) adjacent-bigram count relation — a
    * content-keyed persisted store (the materializedPairs discipline,
    * r12). FIVE gated queries each re-exploded the corpus into bigram
    * instances and re-aggregated them (q_domain_mix at this exact grain;
    * q_textrank / q_pmi_collocations / q_bigram_lm / q_kneser_ney's model
    * side at the corpus (prev, cur) grain, which is the SUM over source —
    * identical counts by construction). One explode + one
    * (source, prev, cur)-keyed exchange per corpus content per JVM;
    * every consumer aggregates the vocab-bound store (bigram-type grain,
    * ~|V|² bounded, sub-linear in corpus size) instead of corpus-grain
    * instances. Token derivation is the family's pinned filtered stream
    * `filter(split(text, ' '), x != '')`; q_bigram_lm's build AND oracle
    * were normalized to it (identical on any single-spaced corpus — the
    * gate corpus by construction).
    */

  private[graft] def bigramStore(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-bigram-store") {
      Tables.spreadForRowCpu(docs(s, d))
        .select(col("source"),
          expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
        .select(col("source"), explode(expr(
          """transform(sequence(0, n - 2),
               i -> struct(element_at(toks, i + 1) AS prev,
                           element_at(toks, i + 2) AS cur))""")).as("bg"))
        .select(col("source"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
        .groupBy(col("source"), col("prev"), col("cur"))
        .agg(count(lit(1)).as("n"))
    }

  /** Corpus-grain (prev, cur) counts off the store — the shape four of
    * the five consumers rank or smooth. */
  private[graft] def bigramCounts(s: SparkSession, d: String): DataFrame =
    bigramStore(s, d).groupBy(col("prev"), col("cur"))
      .agg(sum(col("n")).as("c2"))

  /** The (word, cnt, symbols) table both subword learners train on — the
    * one corpus scan; everything after is vocab-bound. */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      .filter(expr("length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), split(col("w"), "").as("syms"))
      .localCheckpoint()

  /** Adjacent-pair counts of the current word table — the shared
    * candidate relation both merge-pick rules rank. */
  private def pairCounts(cur: DataFrame): DataFrame =
    cur.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(0, size(syms) - 2),
             i -> struct(element_at(syms, i + 1) AS l,
                         element_at(syms, i + 2) AS r))""")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** The trained BPE table — a content-keyed persisted store (the
    * materializedPairs / scoreLabelStore discipline): THREE gated queries
    * replay the same [[BPE_MERGES]]-round training loop (q_bpe_train,
    * q_bpe_encode, and q_tokenizer_fertility via q_bpe_encode's builder),
    * each paying the full per-round driver-pull + checkpoint chain. One
    * training run per corpus content per JVM now fills both halves — the
    * merge list (driver-side, keyed by the SAME content token the parquet
    * store validates, so they can never desynchronize) and the final
    * (w, cnt, syms) word table (temp parquet). Freshness rides
    * [[Tables.contentToken]]: an in-place corpus regen rebuilds both.
    */
  private val bpeMergesByPath = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(Long, String, String, Long)])]()

  private[graft] def bpeLearn(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val path = s"$d/documents.parquet"
    // Both halves key on the token the STORE TABLE served (ADVICE r12):
    // an outer-scope token races an in-place corpus regen — the store
    // would land under the fresh token while the merge map held the
    // stale one, wedging every later call on the require below. The
    // build writes the merge list before its store entry is published,
    // and same-key callers wait for that build; only a regen rebuilt
    // between this serve and the read below can trip the require, which
    // then fails loudly instead of pairing mismatched halves.
    val (token, tbl) = Tables.contentKeyedTempParquetKeyed(
      s, path, "graft-bpe-store") { tok =>
      var cur = wordTable(s, d)
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (step <- 1 to BPE_MERGES) {
        val best = pairCounts(cur)
          .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          .collect()(0)
        val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((step.toLong, l, r, c))
        cur = applyMerge(cur, l, r).localCheckpoint()
      }
      bpeMergesByPath.put(path, (tok, merges.result()))
      cur
    }
    val m = bpeMergesByPath.get(path)
    require(m != null && m._1 == token,
      "BPE merge list out of sync with the stored word table")
    (m._2, tbl)
  }

  /** The shared SQL prefix (w0 .. w{M}): the word-frequency base plus one
    * unrolled block per merge round. MATERIALIZED is load-bearing: each
    * round references the previous word table twice (pair count +
    * application), so inlined CTEs re-evaluate the whole chain 2^M
    * times. Greedy-leftmost application is expressed as island parity —
    * among each run of consecutive candidate positions, every second one
    * merges — the same function as the Spark-side fold (proven by the
    * PipelineSpec brute force). */
  private def bpeCtes: String =
    mergeCtes(BPE_MERGES, r => s"SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1")

  /** The shared unrolled-round SQL skeleton (w0 .. w{rounds}) for both
    * subword learners: only the merge-PICK rule (m$r's body) differs —
    * BPE ranks raw pair counts, WordPiece likelihood scores. `pick(r)`
    * must SELECT at least columns (l, r, c) from p$r (and may join s$r,
    * the symbol counts, which every round materializes). */
  private def mergeCtes(rounds: Int, pick: Int => String): String = {
    def round(r: Int): String = {
      val p = r - 1
      s"""s$r AS MATERIALIZED (
           SELECT t.s AS sym, CAST(SUM(w.cnt) AS BIGINT) AS sc
           FROM w$p w, unnest(w.syms) AS t(s) GROUP BY 1),
         p$r AS MATERIALIZED (
           SELECT w.syms[CAST(t.i + 1 AS BIGINT)] AS l,
             w.syms[CAST(t.i + 2 AS BIGINT)] AS r,
             CAST(SUM(w.cnt) AS BIGINT) AS c
           FROM w$p w, unnest(range(0, len(w.syms) - 1)) AS t(i) GROUP BY 1, 2),
         m$r AS MATERIALIZED (${pick(r)}),
         e$r AS MATERIALIZED (
           SELECT w.w, w.cnt, t.i AS i, w.syms[CAST(t.i + 1 AS BIGINT)] AS s,
             m.l || m.r AS merged,
             (w.syms[CAST(t.i + 1 AS BIGINT)] = m.l AND t.i + 1 < len(w.syms)
               AND w.syms[CAST(t.i + 2 AS BIGINT)] = m.r) AS cand
           FROM w$p w, unnest(range(0, len(w.syms))) AS t(i), m$r m),
         k$r AS MATERIALIZED (SELECT w, i FROM (
             SELECT w, i, (i - MIN(i) OVER (PARTITION BY w, isl)) % 2 AS par
             FROM (SELECT w, i,
                     i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS isl
                   FROM e$r WHERE cand) a) b WHERE par = 0),
         w$r AS MATERIALIZED (
           SELECT e.w, e.cnt,
             list(CASE WHEN k1.i IS NOT NULL THEN e.merged ELSE e.s END
                  ORDER BY e.i) AS syms
           FROM e$r e
           LEFT JOIN k$r k1 ON e.w = k1.w AND e.i = k1.i
           LEFT JOIN k$r k0 ON e.w = k0.w AND e.i - 1 = k0.i
           WHERE k0.i IS NULL
           GROUP BY e.w, e.cnt, e.merged)"""
    }
    s"""w0 AS MATERIALIZED (
         SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt, string_split(w, '') AS syms
         FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
               FROM documents) t
         WHERE length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0
         GROUP BY w),
       ${(1 to rounds).map(round).mkString(",\n")}"""
  }

  /** Distributed BPE tokenizer training (Sennrich/Haddow/Birch 2016,
    * "Neural Machine Translation of Rare Words with Subword Units" —
    * public): learn the first [[BPE_MERGES]] merge rules from the corpus.
    * Classic BPE trains on the WORD-FREQUENCY table, not the corpus: the
    * corpus is scanned exactly once (token-keyed count with map-side
    * combines — the q_vocab_topk shape) into a vocab-bound (word, cnt,
    * symbols) table, then every merge round touches only that table.
    * Per round: (a) adjacent symbol pairs explode from the word table
    * (rows ≤ vocab × avg word length) and aggregate on the pair key,
    * cnt-weighted; (b) the argmax pair — tie-break pinned to (count desc,
    * left asc, right asc) so both engines learn the identical table — is
    * a ONE-ROW driver pull (the k-means centroid-pull precedent: the
    * merge decision shapes the next round's PLAN, so it cannot stay a
    * column); (c) the merge applies as a map-only left-to-right greedy
    * fold (`aggregate` HOF) over each word's symbol list — leftmost-first
    * non-overlapping, the classic semantics ("aaa" + (a,a) → [aa, a]).
    *
    * Words are restricted to pure-ASCII-lowercase via `translate` (NOT a
    * regex: Java's `$` matches before a final newline where RE2's does
    * not, so anchors are not engine-portable), which also guarantees the
    * learned symbols are `[a-z]+` and safe to interpolate into the next
    * round's expression.
    *
    * 100 TB shape: one corpus scan; everything after is vocab-bound (real
    * corpora: ~10⁷ distinct words — a few executor partitions), and each
    * round moves ≤ vocab×len pair rows through one exchange. Nothing is
    * ever all-pairs, and the driver holds M rows total. */
  private val bpeTrain = QueryDef(
    "q_bpe_train",
    (s, d) => {
      val sess = s
      import sess.implicits._
      bpeLearn(s, d)._1.toDF("step", "sym_l", "sym_r", "pair_cnt")
    },
    Some {
      val unions = (1 to BPE_MERGES).map(r =>
        s"SELECT CAST($r AS BIGINT) AS step, l AS sym_l, r AS sym_r, c AS pair_cnt FROM m$r")
        .mkString("\n UNION ALL ")
      s"""WITH $bpeCtes
         $unions"""
    })

  /** Distributed WordPiece tokenizer training (Schuster & Nakajima 2012;
    * the likelihood-scored merge objective as published in Wu et al. 2016,
    * "Google's Neural Machine Translation System" §4.1 — public): the
    * third canonical subword algorithm next to BPE (q_bpe_train) and
    * unigram-LM (q_unigram_train). Identical training loop to BPE — same
    * word-frequency table, same pair candidates, same greedy-leftmost
    * application fold — differing ONLY in the merge-pick rule: WordPiece
    * merges the pair that maximizes the corpus likelihood gain, i.e.
    * score(l,r) = count(lr) / (count(l) · count(r)), where count(x) is the
    * symbol's cnt-weighted occurrence count under the CURRENT
    * tokenization. Frequent-but-expected pairs (two already-common
    * symbols) lose to rarer-but-cohesive ones — the qualitative difference
    * from BPE that PipelineSpec pins on the gate corpus (the two learned
    * tables diverge from the first rounds).
    *
    * Oracle-exact ranking: the score is quantized to integer e9 fixed
    * point (c·1e9 div (sc_l·sc_r) — nonneg `div`/`//` agree), with ties
    * broken by (raw pair count desc, l, r) — a pinned total order both
    * engines share. (The ## continuation-prefix convention is an encode-
    * time surface concern; training on the word table does not need it,
    * and symbols stay [a-z]+, safe to interpolate into the next round's
    * fold expression. int64 headroom: c·1e9 needs c < 9.2e9 and
    * sc_l·sc_r < 9.2e18 — fine to ~1e9-token corpora; past that drop the
    * scale to e6 or split the compare.)
    *
    * 100 TB shape: identical to q_bpe_train (one corpus scan, vocab-bound
    * rounds, ONE-row driver pull per round); the only addition is a
    * symbol-grain aggregate per round — ≤ vocab keys, strictly smaller
    * than the pair aggregate the round already pays. */
  private val WP_MERGES = 8

  /** The trained WordPiece table — a content-keyed persisted store (the
    * [[bpeLearn]] discipline, r12): q_wordpiece_train reads the merge
    * list, q_wordpiece_encode the final word table; one training run per
    * corpus content per JVM fills both halves on the same token. */
  private val wpMergesByPath = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(Long, String, String, Long, Long)])]()

  private[graft] def wordpieceLearn(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    val path = s"$d/documents.parquet"
    // Keyed-token discipline — see [[bpeLearn]] (ADVICE r12).
    val (token, tbl) = Tables.contentKeyedTempParquetKeyed(
      s, path, "graft-wp-store") { tok =>
      var cur = wordTable(s, d)
      val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
      for (step <- 1 to WP_MERGES) {
        val symc = cur.select(col("cnt"), explode(col("syms")).as("sym"))
          .groupBy(col("sym")).agg(sum(col("cnt")).as("sc"))
        val best = pairCounts(cur)
          .join(symc.select(col("sym").as("l"), col("sc").as("sl")), "l")
          .join(symc.select(col("sym").as("r"), col("sc").as("sr")), "r")
          .withColumn("score_e9",
            expr("c * CAST(1000000000 AS BIGINT) div (sl * sr)"))
          .orderBy(col("score_e9").desc, col("c").desc, col("l"), col("r"))
          .limit(1).select("l", "r", "c", "score_e9")
          .collect()(0)
        val (l, r) = (best.getString(0), best.getString(1))
        merges += ((step.toLong, l, r, best.getLong(2), best.getLong(3)))
        cur = applyMerge(cur, l, r).localCheckpoint()
      }
      wpMergesByPath.put(path, (tok, merges.result()))
      cur
    }
    val m = wpMergesByPath.get(path)
    require(m != null && m._1 == token,
      "WordPiece merge list out of sync with the stored word table")
    (m._2, tbl)
  }

  /** The shared WordPiece SQL prefix (w0 .. w{M} under the likelihood
    * pick) — the [[bpeCtes]] twin. */
  private def wpCtes: String =
    mergeCtes(WP_MERGES, r =>
      s"""SELECT p.l, p.r, p.c,
           (p.c * 1000000000) // (sl.sc * sr.sc) AS score_e9
         FROM p$r p
         JOIN s$r sl ON p.l = sl.sym
         JOIN s$r sr ON p.r = sr.sym
         ORDER BY score_e9 DESC, p.c DESC, p.l, p.r LIMIT 1""")

  private val wordpieceTrain = QueryDef(
    "q_wordpiece_train",
    (s, d) => {
      val sess = s
      import sess.implicits._
      wordpieceLearn(s, d)._1
        .toDF("step", "sym_l", "sym_r", "pair_cnt", "score_e9")
    },
    Some {
      val unions = (1 to WP_MERGES).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS step, l AS sym_l, r AS sym_r,
             c AS pair_cnt, score_e9 FROM m$r""")
        .mkString("\n UNION ALL ")
      s"""WITH $wpCtes
         $unions"""
    })

  /** WordPiece ENCODE — the q_bpe_encode twin under the likelihood-trained
    * table, closing the train/encode asymmetry (BPE and unigram both ship
    * encode gates; WordPiece shipped train only): per document the word
    * count, subword count, and fanout under [[wordpieceLearn]]'s final
    * word table. The per-word subword counts are the learned segmentation
    * itself (size(syms) of the stored table — the merge-application fold
    * IS the encoder), reused verbatim from the store, so the gate
    * certifies the table users would actually encode with. Scale shape:
    * identical to q_bpe_encode — one corpus scan joined to the broadcast
    * vocab-bound dictionary, one doc-keyed partial aggregate. */
  private val wordpieceEncode = QueryDef(
    "q_wordpiece_encode",
    (s, d) => {
      val vocab = wordpieceLearn(s, d)._2
        .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
      docs(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
        .filter(expr("length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0"))
        .join(broadcast(vocab), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .select(col("doc_id"), col("n_words"), col("n_subwords"),
          expr("(n_subwords * CAST(1000000 AS BIGINT)) div n_words").as("fanout_e6"))
    },
    Some(s"""WITH $wpCtes,
        sub AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM w$WP_MERGES),
        inst AS (
          SELECT doc_id, w FROM (
            SELECT doc_id,
              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t
          WHERE length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
          (CAST(SUM(n_sub) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
            AS fanout_e6
        FROM inst JOIN sub USING (w) GROUP BY 1"""))

  /** The ENCODE path of the learned tokenizer — what a release actually
    * ships: retokenize the corpus with the merge table and report each
    * document's subword count and fanout vs its whitespace word count
    * (the number a token-budgeted packing/pricing stage consumes). This
    * also gates the final vocabulary STATE (w$M) — the merge-table gate
    * checks what was learned, this one checks what the learned rules DO.
    *
    * Scale shape: merge application stays vocab-bound ([[bpeLearn]]'s
    * final word table); the corpus is touched by one scan that joins
    * token instances to the broadcast (word → subword-count) dictionary —
    * the q_oov_rate shape — then one doc-keyed combine. A 100 TB corpus
    * with a ~10⁷-word vocab broadcasts a few hundred MB of dictionary,
    * the standard map-side-dictionary trade; nothing corpus-grain ever
    * shuffles except the doc-keyed partial aggregate. */
  private val bpeEncode = QueryDef(
    "q_bpe_encode",
    (s, d) => {
      val vocab = bpeLearn(s, d)._2
        .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
      docs(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
        .filter(expr("length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0"))
        .join(broadcast(vocab), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .select(col("doc_id"), col("n_words"), col("n_subwords"),
          expr("(n_subwords * CAST(1000000 AS BIGINT)) div n_words").as("fanout_e6"))
    },
    Some(s"""WITH $bpeCtes,
        sub AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM w$BPE_MERGES),
        inst AS (
          SELECT doc_id, w FROM (
            SELECT doc_id,
              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t
          WHERE length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
          (CAST(SUM(n_sub) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
            AS fanout_e6
        FROM inst JOIN sub USING (w) GROUP BY 1"""))

  /** Tokenizer fertility per language: subwords emitted per whitespace
    * word under the learned BPE table, and each language's premium over
    * English — the multilingual-equity number (a language whose premium is
    * 2x pays 2x the context budget per word) that decides whether a vocab
    * needs rebalancing before a multilingual train run. Per-doc encode
    * counts are reused VERBATIM from [[bpeEncode]] (build and oracle), so
    * this certifies the encode path users actually run; on top of it only
    * a lang-grain rollup (≤ #languages rows) and one broadcast English
    * scalar move — corpus-grain data never reshuffles. The premium is
    * computed fertility-over-fertility (each ~1e6-scale), so the integer
    * arithmetic never leaves the safe range regardless of corpus size. */
  private val tokenizerFertility = QueryDef(
    "q_tokenizer_fertility",
    (s, d) => {
      val per = bpeEncode.build(s, d)
        .select(col("doc_id"), col("n_words"), col("n_subwords"))
        .join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .withColumn("fertility_e6",
          expr("n_subwords * CAST(1000000 AS BIGINT) div n_words"))
      val en = per.filter(col("lang") === "en")
        .select(col("fertility_e6").as("f_en"))
      per.crossJoin(broadcast(en))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          col("fertility_e6"),
          expr("fertility_e6 * CAST(1000000 AS BIGINT) div f_en")
            .as("premium_e6"))
    },
    Some {
      val encSql = bpeEncode.oracle.get
      s"""WITH enc AS ($encSql),
        per AS (
          SELECT lang, CAST(SUM(n_words) AS BIGINT) AS n_words,
            CAST(SUM(n_subwords) AS BIGINT) AS n_subwords
          FROM enc JOIN documents USING (doc_id) GROUP BY 1),
        x AS (
          SELECT lang, n_words, n_subwords,
            n_subwords * 1000000 // n_words AS fertility_e6
          FROM per)
        SELECT lang, n_words, n_subwords, fertility_e6,
          fertility_e6 * 1000000 //
            (SELECT fertility_e6 FROM x WHERE lang = 'en') AS premium_e6
        FROM x"""
    })

  /** CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data" — public):
    * split each LANGUAGE's documents into head/middle/tail terciles of the
    * LM perplexity score and keep head+middle — the per-language quality
    * gate that follows language ID in the CommonCrawl curation recipe.
    * Differs from [[graft.pipeline.Sampling]]'s q_curriculum (global
    * quartiles, ordering decision) in both grouping and consequence: here
    * the order statistics are PER LANGUAGE and the output is a keep/drop
    * gate, so a language's own fluency distribution sets its thresholds —
    * the reason CCNet buckets per language at all (a global threshold
    * would drop whole low-resource languages whose n-gram costs run high).
    *
    * The per-doc score is q_perplexity_lm's nll_e6 verbatim (shared
    * builder, so the gate and the score can never drift); boundaries are
    * EXACT distributed order statistics via the bucketed two-phase
    * cumulative — coarse below-bucket counts windowed per (lang) over
    * nll_e6 div 1e5 buckets, then a within-bucket cumulative per
    * (lang, bkt) — so no sort ever exceeds a (lang, bucket) cell even when
    * one language is the whole corpus (the q_curriculum machinery with
    * lang added to every key). Boundary rule: b_k = min{v : 3·cum(v) >=
    * k·n_lang}, docs at the boundary value go to the lower bucket on both
    * engines (<=), so ties are deterministic.
    *
    * Scale shape: the nll relation joins documents only for the narrow
    * (doc_id, lang) pair (text never moves); distinct-value grain after
    * the first groupBy; the boundary set is ≤ n_langs rows and
    * broadcasts; the final rollup is (lang, bucket)-keyed. */
  private val CCNET_BKT = 100000L
  private val ccnetBuckets = QueryDef(
    "q_ccnet_buckets",
    (s, d) => {
      // Score once, then bucket from the materialized scores: the nll
      // relation has THREE consumers below (distinct-value counts, the
      // per-language totals, the final bucket rollup), and without the
      // checkpoint each consumer re-runs the whole perplexity model build
      // (probe caught 13.9 s / 7.6 s-straggler at 10x ≈ 3x the perplexity
      // wall; 4.9 s after). The scores now come from the persisted
      // [[nllStore]] (one model build per corpus per JVM, shared with
      // q_perplexity_lm and q_curriculum); the checkpoint still pins the
      // narrow post-join relation for the three consumers.
      val nl = nllStore(s, d).select(col("doc_id"), col("nll_e6"))
        .join(docs(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .localCheckpoint()
      val g = nl.groupBy(col("lang"), col("nll_e6")).agg(count(lit(1)).as("c"))
        .withColumn("bkt", expr(s"nll_e6 div $CCNET_BKT"))
      val bktBelow = g.groupBy(col("lang"), col("bkt")).agg(sum(col("c")).as("bc"))
        .withColumn("below_bkt", coalesce(sum(col("bc")).over(
          Window.partitionBy(col("lang")).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("lang"), col("bkt"), col("below_bkt"))
      val cum = g.join(bktBelow, Seq("lang", "bkt"))
        .withColumn("below_in", coalesce(sum(col("c")).over(
          Window.partitionBy(col("lang"), col("bkt")).orderBy(col("nll_e6"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cum", col("below_bkt") + col("below_in") + col("c"))
      val nlang = nl.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val b = cum.join(nlang, "lang").groupBy(col("lang")).agg(
        min(when(col("cum") * 3 >= col("n"), col("nll_e6"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("nll_e6"))).as("b2"))
      nl.join(broadcast(b), "lang")
        .withColumn("bucket",
          when(col("nll_e6") <= col("b1"), "head")
            .when(col("nll_e6") <= col("b2"), "middle").otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("nll_e6")).as("lo_nll_e6"),
          max(col("nll_e6")).as("hi_nll_e6"))
        .join(broadcast(nlang), "lang")
        .select(col("lang"), col("bucket"), col("n_docs"),
          col("lo_nll_e6"), col("hi_nll_e6"),
          expr("n_docs * CAST(1000000 AS BIGINT) div n").as("share_e6"),
          (col("bucket") =!= "tail").as("keep"))
    },
    Some {
      val perpSql = perplexityLm.oracle.get
      s"""WITH nllsrc AS ($perpSql),
        nl AS (
          SELECT n.doc_id, n.nll_e6, d.lang
          FROM nllsrc n JOIN documents d USING (doc_id)),
        g AS (SELECT lang, nll_e6, CAST(COUNT(*) AS BIGINT) AS c
              FROM nl GROUP BY 1, 2),
        cum AS (
          SELECT lang, nll_e6, c,
            CAST(SUM(c) OVER (PARTITION BY lang ORDER BY nll_e6) AS BIGINT) AS cum
          FROM g),
        nlang AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY 1),
        b AS (
          SELECT c.lang,
            MIN(CASE WHEN cum * 3 >= n THEN nll_e6 END) AS b1,
            MIN(CASE WHEN cum * 3 >= n * 2 THEN nll_e6 END) AS b2
          FROM cum c JOIN nlang USING (lang) GROUP BY 1),
        ph AS (
          SELECT nl.lang,
            CASE WHEN nll_e6 <= b1 THEN 'head'
              WHEN nll_e6 <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
            nll_e6
          FROM nl JOIN b USING (lang))
        SELECT p.lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          MIN(nll_e6) AS lo_nll_e6, MAX(nll_e6) AS hi_nll_e6,
          CAST(COUNT(*) AS BIGINT) * 1000000 // n AS share_e6,
          bucket <> 'tail' AS keep
        FROM ph p JOIN nlang USING (lang) GROUP BY 1, 2, n"""
    })

  /** Distinct-n diversity (Li et al. 2016, "A Diversity-Promoting
    * Objective Function for Neural Conversation Models" — public;
    * distinct-1/distinct-2 are the standard corpus-diversity diagnostics):
    * per source, the fraction of unigram and bigram INSTANCES that are
    * distinct types. A source whose distinct-2 collapses is template spam
    * (boilerplate farms, auto-generated listings) even when every
    * individual document passes the per-doc repetition gates — this is the
    * corpus-grain complement to q_quality_gopher's per-doc signals.
    *
    * Scale shape: gram instances shuffle once on (source, gram) — the
    * vocab/tfidf key discipline, uniform hashed text keys, never documents
    * — collapse to per-type counts, then rollup to ≤ n_sources rows.
    * Ratios are floor-e6 over exact int64 counts.
    *
    * r16 MEASURED AND KEPT AS-IS: fusing both gram orders into one
    * explode (one scan, one exchange, no join) was slower at every
    * measurable scale — +23% with struct-tagged (o, g) instance rows
    * (per-row named_struct allocation), still +16% with bare-string
    * instances keyed (source, g) alone (the unigram/bigram namespaces
    * cannot collide: tokens carry no space, bigrams exactly one) because
    * `concat(toks, bigrams)` copies every token byte into a combined
    * UnsafeArray that the split branches never materialize. The second
    * document scan the fusion removes is page-cache-served here and
    * column-pruned to (source, text) at any scale; don't re-try without
    * a disk-bound corpus. */
  private val distinctNgrams = QueryDef(
    "q_distinct_ngrams",
    (s, d) => {
      val base = docs(s, d)
        .select(col("source"),
          expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
      val uni = base.filter(col("n") >= 1)
        .select(col("source"), explode(col("toks")).as("g"))
      val bi = base.filter(col("n") >= 2)
        .select(col("source"), explode(expr(
          """transform(sequence(0, n - 2),
               i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"""))
          .as("g"))
      def roll(inst: DataFrame, tot: String, dst: String, frac: String) =
        inst.groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as(tot), count(lit(1)).as(dst))
          .withColumn(frac, expr(s"$dst * CAST(1000000 AS BIGINT) div $tot"))
      roll(uni, "n_unigrams", "d1", "distinct1_e6")
        .join(roll(bi, "n_bigrams", "d2", "distinct2_e6"), Seq("source"), "left_outer")
    },
    Some("""WITH t AS (
        SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT source, toks, len(toks) AS n FROM t),
      uni AS (SELECT source, unnest(toks) AS g FROM f WHERE n >= 1),
      bi AS (
        SELECT source, toks[CAST(i + 1 AS BIGINT)] || ' ' || toks[CAST(i + 2 AS BIGINT)] AS g
        FROM f, unnest(range(0, n - 1)) AS u(i) WHERE n >= 2),
      u AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_unigrams,
          CAST(COUNT(*) AS BIGINT) AS d1
        FROM (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1, 2)
        GROUP BY 1),
      b AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
          CAST(COUNT(*) AS BIGINT) AS d2
        FROM (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2)
        GROUP BY 1)
      SELECT u.source, n_unigrams, d1, d1 * 1000000 // n_unigrams AS distinct1_e6,
        n_bigrams, d2, d2 * 1000000 // n_bigrams AS distinct2_e6
      FROM u LEFT JOIN b ON u.source = b.source"""))

  /** Vocabulary growth / Heaps' law fit (Heaps 1978, "Information
    * Retrieval: Computational and Theoretical Aspects" — public): distinct
    * vocabulary size V(n) at exponentially spaced corpus prefixes (n/8,
    * n/4, n/2, n by doc_id order) and the local Heaps exponent
    * β = Δln V / Δln N between consecutive prefixes. V(N) ≈ K·N^β with
    * β < 1 is the law every tokenizer-vocab and dedup-dictionary sizing
    * decision leans on — a source whose β approaches 1 is generating
    * unbounded novel tokens (mint-ids, hashes, boilerplate noise), the
    * corpus-grain signal that a fixed vocab or a broadcast dictionary
    * will NOT hold at the next scale decade.
    *
    * The trick that makes four prefixes cost ONE pass: V(t) = #{tokens
    * whose FIRST occurrence doc < t}, so one token-keyed min(doc_id)
    * aggregate answers every prefix via a 4-row broadcast theta join —
    * no per-prefix rescans, no distinct-per-prefix. Token totals ride a
    * map-side per-doc count. The β window runs over exactly 4 rows (the
    * repeat-allocation bounded-relation precedent); ln parity follows the
    * floor(ln·1e6) convention, here on ratio-of-doubles inputs computed
    * by the identical expression shape on both engines. */
  private val vocabGrowth = QueryDef(
    "q_vocab_growth",
    (s, d) => {
      val n = docs(s, d).agg((max(col("doc_id")) + lit(1L)).as("n_docs"))
      val th = s.range(1, 5).toDF("k")
        .crossJoin(broadcast(n))
        .select(col("k"), expr(
          "n_docs div CASE k WHEN 1 THEN 8 WHEN 2 THEN 4 WHEN 3 THEN 2 ELSE 1 END")
          .as("t"))
      val firstOcc = docs(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("tok"))
        .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      val docCnt = docs(s, d).select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)").as("nt"))
      val tokens = docCnt.join(broadcast(th), col("doc_id") < col("t"))
        .groupBy(col("k"), col("t")).agg(sum(col("nt")).as("n_tokens"))
      val vocabK = firstOcc.join(broadcast(th), col("fd") < col("t"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_vocab"))
      val w = Window.orderBy(col("k")) // exactly 4 rows by construction
      tokens.join(vocabK, "k")
        .select(col("k"), col("t").as("n_prefix_docs"),
          col("n_tokens"), col("n_vocab"))
        .withColumn("beta_e6", floor(
          log(col("n_vocab").cast(DoubleType) / lag(col("n_vocab"), 1).over(w)) /
            log(col("n_tokens").cast(DoubleType) / lag(col("n_tokens"), 1).over(w))
            * 1e6).cast("long"))
    },
    Some("""WITH n AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
      th AS (
        SELECT CAST(k AS BIGINT) AS k,
          CAST(n_docs // CASE k WHEN 1 THEN 8 WHEN 2 THEN 4 WHEN 3 THEN 2
            ELSE 1 END AS BIGINT) AS t
        FROM (SELECT unnest([1, 2, 3, 4]) AS k), n),
      toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents),
      fo AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY 1),
      dc AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
        FROM documents),
      tk AS (SELECT k, t, CAST(SUM(nt) AS BIGINT) AS n_tokens
             FROM dc JOIN th ON dc.doc_id < th.t GROUP BY 1, 2),
      vc AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vocab
             FROM fo JOIN th ON fo.fd < th.t GROUP BY 1),
      base AS (
        SELECT tk.k AS k, t AS n_prefix_docs, n_tokens, n_vocab
        FROM tk JOIN vc ON tk.k = vc.k)
      SELECT k, n_prefix_docs, n_tokens, n_vocab,
        CAST(FLOOR(
          LN(CAST(n_vocab AS DOUBLE) / LAG(n_vocab) OVER (ORDER BY k)) /
          LN(CAST(n_tokens AS DOUBLE) / LAG(n_tokens) OVER (ORDER BY k))
          * 1e6) AS BIGINT) AS beta_e6
      FROM base"""))

  /** The FULL Gopher quality-RULE set (Rae et al. 2021, appendix A1.1 —
    * public), the non-repetition document gates that complete the family
    * next to [[repetition]]'s n-gram statistics: word-count bounds
    * [50, 100k], mean word length in [3, 10] chars, symbol-to-word ratio
    * ≤ 0.1 for hashes and for ellipses, ≥ 80% of words carrying at least
    * one alphabetic character, and ≥ 2 distinct required stopwords
    * present — the paper's eight (the, be, to, of, and, that, have,
    * with) plus the article 'a': the paper set is an English-web-model
    * constant, and this corpus model draws its function words from
    * {the, a}, so the unmodified set would gate every document
    * identically (a vacuous certificate); the augmented set keeps the
    * rule's SHAPE (≥ 2 distinct required function words) while
    * discriminating on this corpus. The
    * line-grain rules (bullet-start / ellipsis-end fractions) are omitted:
    * the corpus is single-line by construction, so they gate nothing here
    * and their thresholds would certify vacuous truths.
    *
    * All ratios are nonnegative-integer `div` at e6 (Spark `div` ==
    * DuckDB `//` on nonnegative operands — the oracle-parity convention);
    * the alphabetic test is `translate`-based, not a regex (anchors are
    * not engine-portable, the q_bpe_train precedent). Scale shape: ONE
    * map-side pass over each document's own row — no shuffle, no join at
    * any corpus size (the q_quality_gopher kernel family's shape; these
    * statistics are cheap enough that composed expressions stay inside
    * whole-stage codegen without a native kernel). */
  private val gopherRules = QueryDef(
    "q_quality_gopher_rules",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .filter(col("n_words") >= 1)
        .withColumn("sum_len", expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
        .withColumn("n_alpha", size(expr(
          """filter(toks, t -> length(translate(t,
             'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))
             < length(t))""")).cast("long"))
        .withColumn("n_hash",
          (length(col("text")) - length(expr("replace(text, '#', '')"))).cast("long"))
        .withColumn("n_ell",
          expr("CAST((length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"))
        .withColumn("n_req_stops", expr(
          """CAST(IF(array_contains(toks, 'the'), 1, 0) +
             IF(array_contains(toks, 'be'), 1, 0) +
             IF(array_contains(toks, 'to'), 1, 0) +
             IF(array_contains(toks, 'of'), 1, 0) +
             IF(array_contains(toks, 'and'), 1, 0) +
             IF(array_contains(toks, 'that'), 1, 0) +
             IF(array_contains(toks, 'have'), 1, 0) +
             IF(array_contains(toks, 'with'), 1, 0) +
             IF(array_contains(toks, 'a'), 1, 0) AS BIGINT)"""))
        .withColumn("mean_word_len_e6",
          expr("(sum_len * CAST(1000000 AS BIGINT)) div n_words"))
        .withColumn("hash_ratio_e6",
          expr("(n_hash * CAST(1000000 AS BIGINT)) div n_words"))
        .withColumn("ellipsis_ratio_e6",
          expr("(n_ell * CAST(1000000 AS BIGINT)) div n_words"))
        .withColumn("alpha_frac_e6",
          expr("(n_alpha * CAST(1000000 AS BIGINT)) div n_words"))
        .select(col("doc_id"), col("n_words"), col("mean_word_len_e6"),
          col("hash_ratio_e6"), col("ellipsis_ratio_e6"),
          col("alpha_frac_e6"), col("n_req_stops"),
          (col("n_words") >= 50 && col("n_words") <= 100000 &&
            col("mean_word_len_e6") >= 3000000 &&
            col("mean_word_len_e6") <= 10000000 &&
            col("hash_ratio_e6") <= 100000 &&
            col("ellipsis_ratio_e6") <= 100000 &&
            col("alpha_frac_e6") >= 800000 &&
            col("n_req_stops") >= 2).as("keep")),
    Some("""WITH t AS (
        SELECT doc_id, text,
          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      b AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS sum_len,
          CAST(len(list_filter(toks, w -> len(translate(w,
            'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))
            < len(w))) AS BIGINT) AS n_alpha,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
          CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
          CAST(CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END AS BIGINT)
            AS n_req_stops
        FROM t WHERE len(toks) >= 1),
      r AS (
        SELECT doc_id, n_words,
          (sum_len * 1000000) // n_words AS mean_word_len_e6,
          (n_hash * 1000000) // n_words AS hash_ratio_e6,
          (n_ell * 1000000) // n_words AS ellipsis_ratio_e6,
          (n_alpha * 1000000) // n_words AS alpha_frac_e6,
          n_req_stops
        FROM b)
      SELECT doc_id, n_words, mean_word_len_e6, hash_ratio_e6,
        ellipsis_ratio_e6, alpha_frac_e6, n_req_stops,
        n_words BETWEEN 50 AND 100000 AND
          mean_word_len_e6 BETWEEN 3000000 AND 10000000 AND
          hash_ratio_e6 <= 100000 AND ellipsis_ratio_e6 <= 100000 AND
          alpha_frac_e6 >= 800000 AND n_req_stops >= 2 AS keep
      FROM r"""))

  val all: Seq[QueryDef] =
    Seq(textStats, textQuality, langId, tokenCount, fingerprint, vocab,
      fingerprintRolling, tfidfKeywords, outlierFilter, boilerplate, bm25,
      bigramLm, decontaminate, perplexityLm, knPerplexity, pmiCollocations,
      oovRate, repetition, gopherRules, bpeTrain,
      wordpieceTrain, wordpieceEncode, bpeEncode, tokenizerFertility, ccnetBuckets,
      distinctNgrams, vocabGrowth, zipfSlope, textrank)
}
