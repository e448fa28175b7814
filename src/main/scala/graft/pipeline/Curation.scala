package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators over `documents` — the filter/reshape passes a
  * training-data pipeline runs between scoring (TextAnalysis) and dedup
  * (Dedup): repetition-based quality gates, entropy filtering, PII-style
  * redaction, inverted-index construction, context-window sequence packing,
  * and incremental dedup against a persisted fingerprint store.
  *
  * Scale notes (100 TB): every query here shuffles on a bounded or
  * well-distributed key — (doc_id), (term), or (shard) — and never moves
  * document text through a shuffle except where the text IS the output
  * (redaction). No all-pairs joins, no global windows, no driver collects.
  * All ratios are floor-truncated at 1e-6 with the same structural
  * operation order in both engines (the oracle-parity convention).
  */
object Curation {
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  /** Gopher-style repetition quality gate: fraction of bigram mass held by
    * the single most frequent bigram, plus the duplicate-trigram fraction
    * (1 - distinct/total). Highly templated or stuttering documents score
    * high on both and are dropped. Every n-gram of a document derives from
    * the document's own row, so all three facts per n (total, distinct,
    * top count) are PARTITION-LOCAL: the original explode → (doc, gram)
    * groupBy plan paid two hash exchanges whose keys never crossed a
    * partition (the defect the r11 stage probe found in q_quality_gopher's
    * first plan). Since r12 the native `graft_gram_profile` kernel
    * ([[graft.functions.GramProfile]]) computes them in one compiled
    * sorted pass per n — ZERO shuffle, no join, at any corpus size; counts
    * are trivially identical, so the SQL oracle is unchanged. */
  private val qualityRepetition = QueryDef(
    "q_quality_repetition",
    (s, d) => {
      val base = Tables.spreadForRowCpu(docs(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
      base
        .withColumn("bi", call_function("graft_gram_profile", col("toks"), lit(2)))
        .withColumn("tri", call_function("graft_gram_profile", col("toks"), lit(3)))
        .select(col("doc_id"),
          floor(col("bi.top_cnt").cast(DoubleType) /
            col("bi.n_grams").cast(DoubleType) * 1e6).as("top_bigram_frac_e6"),
          floor((col("tri.n_grams") - col("tri.n_distinct")).cast(DoubleType) /
            col("tri.n_grams").cast(DoubleType) * 1e6).as("dup_trigram_frac_e6"))
        .withColumn("keep",
          col("top_bigram_frac_e6") <= 180000 && col("dup_trigram_frac_e6") <= 300000)
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
      bg AS (
        SELECT doc_id,
          unnest([array_to_string(toks[i+1:i+2], ' ') FOR i IN range(0, len(toks)-1)]) AS g
        FROM t),
      bstat AS (
        SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_bi FROM (
          SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
      tg AS (
        SELECT doc_id,
          unnest([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(0, len(toks)-2)]) AS g3
        FROM t),
      tstat AS (
        SELECT doc_id, count(*) AS n_tri, count(DISTINCT g3) AS n_dist
        FROM tg GROUP BY 1),
      scored AS (
        SELECT doc_id,
          CAST(FLOOR(CAST(top_cnt AS DOUBLE) / CAST(n_bi AS DOUBLE) * 1e6) AS BIGINT)
            AS top_bigram_frac_e6,
          CAST(FLOOR(CAST(n_tri - n_dist AS DOUBLE) / CAST(n_tri AS DOUBLE) * 1e6) AS BIGINT)
            AS dup_trigram_frac_e6
        FROM bstat JOIN tstat USING (doc_id))
      SELECT doc_id, top_bigram_frac_e6, dup_trigram_frac_e6,
        top_bigram_frac_e6 <= 180000 AND dup_trigram_frac_e6 <= 300000 AS keep
      FROM scored"""))

  /** Unigram Shannon entropy per document (nats, e6-truncated): low-entropy
    * documents are repetitive/templated and get dropped. The per-term
    * contribution -(tf/n)·ln(tf/n) is truncated PER TERM so the per-doc
    * total is an exact integer sum (order-independent — the only
    * transcendental never crosses an engine boundary un-truncated). tf and
    * n aggregates both key on doc_id: co-partitioned join, no re-shuffle. */
  private val entropyFilter = QueryDef(
    "q_entropy_filter",
    (s, d) => {
      val tf = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val n = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n"))
      tf.join(n, "doc_id")
        .withColumn("term_e6", floor(
          (col("tf").cast(DoubleType) / col("n").cast(DoubleType)) *
            log(col("n").cast(DoubleType) / col("tf").cast(DoubleType)) * 1e6))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_tokens"), sum(col("term_e6")).as("entropy_e6"))
        .withColumn("keep", col("entropy_e6") >= 3000000)
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             WHERE tok <> '' GROUP BY 1, 2),
      n AS (SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1),
      terms AS (
        SELECT tf.doc_id, n.n,
          CAST(FLOOR((CAST(tf AS DOUBLE) / CAST(n AS DOUBLE)) *
            ln(CAST(n AS DOUBLE) / CAST(tf AS DOUBLE)) * 1e6) AS BIGINT) AS term_e6
        FROM tf JOIN n ON tf.doc_id = n.doc_id)
      SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        CAST(sum(term_e6) AS BIGINT) AS entropy_e6,
        CAST(sum(term_e6) AS BIGINT) >= 3000000 AS keep
      FROM terms GROUP BY 1"""))

  /** PII-style redaction pass: mask a denylisted token set (stand-in for
    * email/phone detectors — this corpus is synthetic word-bag text, so the
    * denylist plays the detector's role; swap the lambda's predicate for a
    * regex match in production) and fingerprint the redacted text. Pure
    * map stage — zero shuffles; at 100 TB this runs embarrassingly
    * parallel and writes back per-partition. */
  private val piiScrub = QueryDef(
    "q_pii_scrub",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          size(expr(
            "filter(toks, t -> t = 'customer' OR t = 'supplier' OR t = 'part')"))
            .as("n_redacted"),
          md5(expr("""array_join(transform(toks,
            t -> CASE WHEN t = 'customer' OR t = 'supplier' OR t = 'part'
                 THEN '<PII>' ELSE t END), ' ')""")).as("redacted_fp")),
    Some("""SELECT doc_id,
        len(list_filter(string_split(text, ' '),
          t -> t = 'customer' OR t = 'supplier' OR t = 'part')) AS n_redacted,
        md5(array_to_string(list_transform(string_split(text, ' '),
          t -> CASE WHEN t = 'customer' OR t = 'supplier' OR t = 'part'
               THEN '<PII>' ELSE t END), ' ')) AS redacted_fp
      FROM documents"""))

  /** Inverted-index construction for mid-frequency terms: term → sorted
    * doc_id posting list (serialized as CSV for cross-engine comparison).
    * Built scale-honestly in two phases: df first, filter to the band
    * (stopwords OUT — their posting lists are corpus-sized and nobody
    * range-scans them), then a term-keyed semi join gates the posting
    * build. Both aggregates and the join share the term key, so phase 2
    * reuses phase 1's partitioning; no posting list is ever materialized
    * for a term outside the band. */
  private val invertedIndex = QueryDef(
    "q_inverted_index",
    (s, d) => {
      val postings = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .distinct()
      val band = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 10 && col("df") <= 50)
      postings.join(band, "term")
        .groupBy(col("term"), col("df"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("term"), col("df"),
          expr("array_join(transform(ids, x -> CAST(x AS STRING)), ',')")
            .as("posting"))
    },
    Some("""WITH p AS (
        SELECT DISTINCT doc_id, tok AS term FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''),
      band AS (
        SELECT term, count(*) AS df FROM p GROUP BY 1
        HAVING count(*) BETWEEN 10 AND 50)
      SELECT term, df,
        array_to_string(list_sort(list(doc_id)), ',') AS posting
      FROM p JOIN band USING (term)
      GROUP BY term, df"""))

  /** Context-window sequence packing: assign documents to fixed token-budget
    * bins (512 whitespace tokens) by exclusive running token count within a
    * shard — the batch-construction step before tokenizer output is written.
    * The window partitions on shard (doc_id % 8), never globally: at 100 TB
    * you raise the shard count with the cluster and each partition's
    * running sum stays independent — no single-partition window (the
    * round-1 q_window_range failure mode). Bin stats come from one further
    * (shard, bin)-keyed aggregate that reuses the shard partitioning. */
  private val sequencePack = QueryDef(
    "q_sequence_pack",
    (s, d) => {
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, d)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).as("n_tok"))
        .withColumn("cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("bin", floor(col("cum") / lit(512.0)))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },
    Some("""WITH d AS (
        SELECT doc_id, doc_id % 8 AS shard,
          len(string_split(text, ' ')) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, shard, n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM d)
      SELECT shard, CAST(FLOOR(cum / 512.0) AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c GROUP BY 1, 2"""))

  /** The persisted fingerprint store behind [[dedupIncremental]],
    * materialized once per corpus per JVM as a fingerprint-BUCKETED
    * (+ sorted) external table — so the incremental anti/outer join is
    * exchange-free on the store side: only the (small) new batch shuffles,
    * the (huge) historical store is read in place bucket-by-bucket. Keyed
    * on the corpus content token and rebuilt when the corpus changes
    * ([[Tables.bucketedCatalogStore]]). Same store shape as the streaming
    * ingest's ([[graft.streaming.EventStream]]). */
  private def bucketedFpStore(s: SparkSession, d: String,
      fp: DataFrame): DataFrame = {
    val path = s"$d/documents.parquet"
    Tables.bucketedCatalogStore(s, "graft-fp-store", path,
      Tables.contentToken(path), "store_fp") {
      fp.filter(col("doc_id") % 2 === 0).select(col("fp")).distinct()
        .withColumnRenamed("fp", "store_fp")
    }
  }

  /** Incremental dedup against a persisted fingerprint store: the batch
    * (odd doc_ids, standing in for newly crawled data) checks its
    * bag-of-words fingerprint against the store (even doc_ids, standing in
    * for the released corpus) and reports per-language new/dup/kept counts.
    * The store side is fingerprints only — never text — read through its
    * bucketed catalog table ([[bucketedFpStore]]): at 100 TB the join
    * shuffles ONLY the new batch (~16 bytes/row on a uniform md5 key) and
    * the store contributes zero exchange (PlanSpec asserts it). The store
    * is NOT broadcast because a historical corpus outgrows any executor. */
  private val dedupIncremental = QueryDef(
    "q_dedup_incremental",
    (s, d) => {
      val fp = docs(s, d).select(col("doc_id"), col("lang"),
        md5(concat_ws(" ",
          array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp"))
      val store = bucketedFpStore(s, d, fp)
      fp.filter(col("doc_id") % 2 === 1)
        .join(store, col("fp") === col("store_fp"), "left_outer")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("store_fp").isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("n_kept", col("n_batch") - col("n_dup"))
    },
    Some("""WITH fp AS (
        SELECT doc_id, lang,
          md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents),
      store AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
      batch AS (SELECT * FROM fp WHERE doc_id % 2 = 1)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_batch,
        CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        CAST(count(*) - SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM batch b LEFT JOIN store s ON b.fp = s.fp
      GROUP BY lang"""))

  /** T5-style span corruption (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning with a Unified Text-to-Text Transformer" §3.1.4
    * — public): the denoising-objective data-prep transform — mask
    * contiguous token spans with sentinels, emit (corrupted input, target
    * of sentinel-prefixed spans). The T5 recipe's knobs are kept (15%
    * corruption, mean span 3) but span PLACEMENT is re-derived for a
    * distributed, oracle-exact setting: the token stream partitions into
    * fixed 20-token blocks and each FULL block masks one 3-token span at
    * offset md5("graft-span-1:doc:block") mod 18 — seeded-hash placement
    * (reproducible releases, the shard-shuffle discipline: never rand()),
    * spans can never cross blocks (no sequential overlap resolution —
    * that is what makes placement embarrassingly parallel), and the
    * masked fraction is exactly 3/20 on full blocks. The partial tail
    * block passes through unmasked. Targets follow the T5 sentinel
    * convention: `<extra_id_b> span …` per block plus the closing
    * `<extra_id_nb>`. The GATE hashes the actual transform output —
    * input_fp/target_fp are md5 of the rendered sequences, so both
    * engines must produce byte-identical corrupted text, not just
    * matching counts.
    *
    * Scale shape: pure map stage — every column derives from the row
    * (the q_chunk_documents law); no shuffle, no state, scales with scan
    * bandwidth. The md5-fold offset reuses [[Sampling.hexFold]] so the
    * Spark HOF and the oracle SQL cannot drift. */
  private val spanCorrupt = QueryDef(
    "q_span_corrupt",
    (s, d) => {
      val fold = Sampling.hexFold(
        "md5(concat('graft-span-1:', CAST(doc_id AS STRING), ':', CAST(b AS STRING)))")
      docs(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 1)
        .withColumn("nb", expr("n div 20"))
        .withColumn("offs", expr(
          s"""IF(nb < 1, CAST(array() AS ARRAY<INT>),
                transform(sequence(0, CAST(nb AS INT) - 1),
                  b -> CAST(($fold) % 18 AS INT)))"""))
        .withColumn("input_arr", expr(
          """concat(
               IF(nb < 1, CAST(array() AS ARRAY<STRING>),
                 flatten(transform(sequence(0, CAST(nb AS INT) - 1), b ->
                   concat(
                     slice(toks, 20 * b + 1, element_at(offs, b + 1)),
                     array(concat('<extra_id_', CAST(b AS STRING), '>')),
                     slice(toks, 20 * b + element_at(offs, b + 1) + 4,
                       17 - element_at(offs, b + 1)))))),
               IF(n > 20 * nb,
                 slice(toks, CAST(20 * nb + 1 AS INT), CAST(n - 20 * nb AS INT)),
                 CAST(array() AS ARRAY<STRING>)))"""))
        .withColumn("target_arr", expr(
          """concat(
               IF(nb < 1, CAST(array() AS ARRAY<STRING>),
                 flatten(transform(sequence(0, CAST(nb AS INT) - 1), b ->
                   concat(
                     array(concat('<extra_id_', CAST(b AS STRING), '>')),
                     slice(toks, 20 * b + element_at(offs, b + 1) + 1, 3))))),
               array(concat('<extra_id_', CAST(nb AS STRING), '>')))"""))
        .select(col("doc_id"), col("n").as("n_tokens"), col("nb").as("n_spans"),
          expr("nb * 3").as("n_masked"),
          expr("nb * 3 * CAST(1000000 AS BIGINT) div n").as("mask_frac_e6"),
          md5(expr("array_join(input_arr, ' ')")).as("input_fp"),
          md5(expr("array_join(target_arr, ' ')")).as("target_fp"))
    },
    Some {
      val fold = Sampling.hexFold(
        "md5('graft-span-1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))")
      s"""WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        f AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
              FROM t WHERE len(toks) >= 1),
        g AS (SELECT doc_id, toks, n, n // 20 AS nb FROM f),
        o AS (SELECT doc_id, toks, n, nb,
            list_transform(range(0, nb), b -> ($fold) % 18) AS offs
          FROM g),
        r AS (SELECT doc_id, n, nb,
            flatten(list_transform(range(0, nb), b ->
              list_concat(list_concat(
                toks[(20 * b + 1):(20 * b + offs[b + 1])],
                ['<extra_id_' || CAST(b AS VARCHAR) || '>']),
                toks[(20 * b + offs[b + 1] + 4):(20 * b + 20)])))
              || toks[(20 * nb + 1):n] AS input_arr,
            flatten(list_transform(range(0, nb), b ->
              list_concat(
                ['<extra_id_' || CAST(b AS VARCHAR) || '>'],
                toks[(20 * b + offs[b + 1] + 1):(20 * b + offs[b + 1] + 3)])))
              || ['<extra_id_' || CAST(nb AS VARCHAR) || '>'] AS target_arr
          FROM o)
        SELECT doc_id, n AS n_tokens, nb AS n_spans,
          CAST(nb * 3 AS BIGINT) AS n_masked,
          nb * 3 * 1000000 // n AS mask_frac_e6,
          md5(array_to_string(input_arr, ' ')) AS input_fp,
          md5(array_to_string(target_arr, ' ')) AS target_fp
        FROM r"""
    })

  /** Bloom-prefiltered incremental dedup: q_dedup_incremental's exact
    * batch-vs-store membership check with Spark's own runtime-filter bloom
    * pair ([[graft.GraftExtensions]]: BloomFilterAggregate /
    * BloomFilterMightContain, surfaced as graft_bloom_agg /
    * graft_bloom_contains) stated EXPLICITLY as the semi-join reduction.
    * The store's fingerprints fold into one ~100 KB bloom via a scalar
    * subquery (built distributed by partial aggregation — no driver
    * materialization; ReuseSubquery evaluates it once for both consumers);
    * batch rows the bloom rejects are NEW BY CERTIFICATE (a bloom has no
    * false negatives) and leave the stream in the scan's map stage —
    * before any exchange; only the survivors (true dups + ~1% false
    * positives at these m/n parameters) reach the exact store join, which
    * removes the FPs. The OUTPUT is therefore exact — identical to
    * q_dedup_incremental's, which is the point: a probabilistic prefilter
    * whose result is still bit-for-bit the exact answer, gated by the same
    * exact-join oracle (CurationSpec additionally pins equality to
    * q_dedup_incremental and that the prefilter actually rejects rows).
    *
    * Why this matters at 100 TB: a daily crawl batch is mostly NEW
    * documents, so the incremental join's cost is dominated by shuffling
    * batch rows that match nothing. The bloom turns that shuffle into
    * (n_dup + eps*n_batch) rows for one broadcast-sized sketch — the same
    * reduction InjectRuntimeFilter performs for selective shuffle joins,
    * which does not fire here on its own because the creation side is an
    * unfiltered pre-bucketed store. Counts stay deterministic because
    * routing (pass/reject) only decides WHERE a row is counted, never
    * whether. */
  private val dedupBloom = QueryDef(
    "q_dedup_bloom",
    (s, d) => {
      val fp = docs(s, d).select(col("doc_id"), col("lang"),
        md5(concat_ws(" ",
          array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp"))
      val store = bucketedFpStore(s, d, fp)
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d/documents.parquet".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val (batchV, storeV) = (s"graft_bloom_batch_$sfx", s"graft_bloom_store_$sfx")
      fp.filter(col("doc_id") % 2 === 1).createOrReplaceTempView(batchV)
      store.createOrReplaceTempView(storeV)
      s.sql(s"""WITH bb AS (
          SELECT lang, fp,
            graft_bloom_contains(
              (SELECT graft_bloom_agg(xxhash64(store_fp), 100000L, 800000L)
               FROM $storeV),
              xxhash64(fp)) AS pass
          FROM $batchV),
        hit AS (
          SELECT b.lang, COUNT(*) AS n_pass,
            SUM(CASE WHEN s.store_fp IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
          FROM (SELECT lang, fp FROM bb WHERE pass) b
          LEFT JOIN $storeV s ON b.fp = s.store_fp
          GROUP BY b.lang),
        miss AS (
          SELECT lang, COUNT(*) AS n_reject FROM bb WHERE NOT pass GROUP BY lang)
        SELECT lang,
          COALESCE(n_pass, 0) + COALESCE(n_reject, 0) AS n_batch,
          COALESCE(n_dup, 0) AS n_dup,
          COALESCE(n_pass, 0) + COALESCE(n_reject, 0) - COALESCE(n_dup, 0) AS n_kept
        FROM hit FULL OUTER JOIN miss USING (lang)""")
    },
    Some("""WITH fp AS (
        SELECT doc_id, lang,
          md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents),
      store AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
      batch AS (SELECT * FROM fp WHERE doc_id % 2 = 1)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_batch,
        CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        CAST(count(*) - SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM batch b LEFT JOIN store s ON b.fp = s.fp
      GROUP BY lang"""))

  /** Context-window chunking: split each document's token stream into
    * windows of 64 tokens at stride 48 (16-token overlap), the reshape
    * that turns documents into fixed-length training examples. Emits one
    * row per chunk with its token count and an md5 content fingerprint
    * (the chunk's identity in a downstream dedup/shuffle stage).
    *
    * Pure map stage: explode over a per-row offset sequence — no shuffle,
    * no window, no state, so it scales with scan bandwidth alone.
    * Offsets step by the stride up to n-17 (plus offset 0 always): a
    * trailing window whose tokens are all inside the previous window's
    * 64-token span (n mod 48 in 1..16, n > 48) is never emitted, so every
    * chunk contributes new tokens and downstream consumers see no fully
    * redundant examples; empty documents chunk to nothing. */
  private val chunkDocuments = QueryDef(
    "q_chunk_documents",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 1)
        .select(col("doc_id"), col("n"), col("toks"),
          explode(expr("sequence(0, greatest(0, n - 17), 48)")).as("o"))
        .select(col("doc_id"),
          expr("CAST(o div 48 AS BIGINT)").as("chunk_id"),
          least(lit(64), col("n") - col("o")).cast("long").as("n_toks"),
          md5(expr("concat_ws(' ', slice(toks, o + 1, 64))")).as("fp")),
    Some("""WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      c AS (
        SELECT doc_id, len(toks) AS n,
          unnest(range(0, greatest(1, len(toks) - 16), 48)) AS o, toks
        FROM t WHERE len(toks) >= 1)
      SELECT doc_id, o // 48 AS chunk_id,
        CAST(least(64, n - o) AS BIGINT) AS n_toks,
        md5(array_to_string(toks[o+1:o+64], ' ')) AS fp
      FROM c"""))

  /** Linear quality classifier (the fastText/fineweb-style model-based
    * filter): a weighted combination of the rule features — stopword
    * density, saturating document length, punctuation density, and a
    * mean-token-length deviation penalty — into one score with a keep
    * threshold. q_text_quality emits the raw features; this is the stage
    * that turns features into a decision with learned-style weights.
    *
    * All arithmetic is exact int64 on e6-scaled features. The only
    * divisions are nonnegative-by-positive (`div` truncates toward zero,
    * DuckDB `//` floors — they agree ONLY on nonnegative operands, so the
    * possibly-negative score itself is never divided). Map-only: at any
    * scale this is a pure scan→project stage, no shuffle at all. */
  private val qualityClassifier = QueryDef(
    "q_quality_classifier",
    (s, d) =>
      docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("len", greatest(length(col("text")).cast("long"), lit(1L)))
        .withColumn("f_stop", floor(
          size(expr("filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')"))
            .cast(DoubleType) / col("n_toks") * 1e6).cast("long"))
        .withColumn("f_punct", floor(
          (col("len") - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
            .cast(DoubleType) / col("len") * 1e6).cast("long"))
        .withColumn("f_sat", least(col("n_toks"), lit(256L)) * 3906L)
        .withColumn("mean_len_e6",
          floor(col("len").cast(DoubleType) / col("n_toks") * 1e6).cast("long"))
        .withColumn("score_e6",
          lit(-500000L) + lit(3L) * col("f_stop") + lit(2L) * col("f_sat")
            - lit(2L) * col("f_punct")
            - expr("abs(mean_len_e6 - 5000000L) div 5L"))
        .select(col("doc_id"), col("score_e6"), (col("score_e6") >= 0L).as("keep")),
    Some("""WITH f AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          greatest(CAST(length(text) AS BIGINT), 1) AS len,
          CAST(FLOOR(CAST(len(list_filter(string_split(text, ' '),
              t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS DOUBLE)
            / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS f_stop,
          CAST(FLOOR(CAST(greatest(CAST(length(text) AS BIGINT), 1)
              - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
            / greatest(CAST(length(text) AS BIGINT), 1) * 1e6) AS BIGINT) AS f_punct
        FROM documents),
      g AS (
        SELECT doc_id,
          -500000 + 3 * f_stop + 2 * (least(n_toks, 256) * 3906) - 2 * f_punct
            - (abs(CAST(FLOOR(CAST(len AS DOUBLE) / n_toks * 1e6) AS BIGINT)
                - 5000000) // 5) AS score_e6
        FROM f)
      SELECT doc_id, CAST(score_e6 AS BIGINT) AS score_e6,
        score_e6 >= 0 AS keep
      FROM g"""))

  /** Exact-substring duplication coverage (the Lee et al. "deduplicating
    * training data" signal, made relational): for every document, the
    * fraction of its 8-token spans that also occur in ANOTHER document.
    * Near-1.0 coverage = verbatim copy; mid-range = quoted/boilerplate
    * regions worth span-level excision. Complements the set-similarity
    * dedups (which miss partial containment) and q_quality_repetition
    * (which is within-doc only).
    *
    * Scale shape: spans shuffle on their content key for the sharedness
    * aggregate (uniformly distributed; count-distinct over exactly the
    * pair (span, doc) — one Expand-free two-level agg), then a semi join
    * back on the same key (co-partitioned with the aggregate, no extra
    * exchange) and a doc-keyed rollup. Spans shuffle as xxhash64 int64
    * fingerprints (the hashedShingles trick: 8 bytes instead of ~50-char
    * strings; identical results unless xxhash64 collides inside the
    * corpus span set — ~2^-64 per pair). The oracle keys on the span
    * strings themselves: only the final per-doc counts are compared, so
    * the key representation is free to differ. */
  private val substringDedup = QueryDef(
    "q_substring_dedup",
    (s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 8)
      // Span fingerprints via the native graft_gram_hashes kernel (r12):
      // xxhash64 over each gram's byte span in one joined buffer —
      // identical values to xxhash64(concat_ws(' ', slice(toks, i, 8)))
      // with zero gram-string allocations (FunctionsSpec differential).
      //
      // r17 (guide §2.4): ONE join instead of three relation passes. A
      // doc with n tokens emits exactly n-7 grams, so n_spans IS
      // count(*) per doc over the gram relation, and the semi-join hit
      // count is a left-outer marker sum (shared is distinct per g, so
      // the marker matches each instance at most once) — the third
      // doc-keyed outer join against `base` is gone. `grams` itself
      // stays LAZY (two consumers, kernel runs twice): a
      // localCheckpoint of the token-grain span relation measured
      // −29.6% DISJOINT at sf0.1 but +21.8% DISJOINT at sf1 — the
      // materialization loses to the page-cache-served kernel re-scan
      // exactly like r16's distinct-ngrams fusion, and the decade
      // measurement is the one that predicts 100 TB.
      val grams = base.select(col("doc_id"), explode(
        call_function("graft_gram_hashes", col("toks"), lit(8))).as("g"))
      val shared = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("g"))
      grams.join(shared.withColumn("hit", lit(1L)), Seq("g"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("hit"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_spans"), col("n_dup"),
          floor(col("n_dup").cast(DoubleType) / col("n_spans") * 1e6).as("dup_frac_e6"))
    },
    Some("""WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents),
      f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
      grams AS (
        SELECT doc_id, n,
          array_to_string(toks[CAST(i AS BIGINT):CAST(i + 7 AS BIGINT)], ' ') AS g
        FROM f, unnest(range(1, n - 6)) AS u(i)),
      shared AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        FROM grams WHERE g IN (SELECT g FROM shared) GROUP BY 1),
      tot AS (SELECT doc_id, CAST(n - 7 AS BIGINT) AS n_spans FROM f)
      SELECT t.doc_id AS doc_id, t.n_spans, COALESCE(h.n_dup, 0) AS n_dup,
        CAST(FLOOR(CAST(COALESCE(h.n_dup, 0) AS DOUBLE) / t.n_spans * 1e6) AS BIGINT)
          AS dup_frac_e6
      FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"""))

  /** Snapshot B — the "next release" — as a REAL persisted parquet root
    * (r9; previously derived inline inside each query's plan): docs with
    * `doc_id % 11 = 3` deleted, `% 7 = 2` edited, `% 13 = 5` re-crawled
    * under a fresh NEGATIVE id (disjoint from any non-negative corpus id
    * at every scale — a fixed positive offset would collide once the
    * corpus outgrows it). The evolution stays a pure deterministic
    * function of A — that is what keeps the DuckDB oracle (which derives
    * B in SQL from `documents`) a full value gate — but the snapshot
    * family now READS it as a second parquet input: two releases, two
    * scans, the IO shape a release-over-release gate has in production,
    * where snapshot B is last month's crawl sitting in its own
    * directory. Materialized once per corpus per JVM as an entry of the
    * [[Tables]] store table, like the shingle index; a testdata regen
    * rebuilds it via the content token. */
  private def snapshotB(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-snapshot-b") {
      val base = docs(s, d)
      base.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 2, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 13 === 5)
          .select((-col("doc_id") - 1L).as("doc_id"),
            concat(lit("recrawl "), col("text")).as("text")))
    }

  /** Corpus snapshot diff: classify every document as added / removed /
    * changed between two corpus releases by content digest. Snapshot A is
    * the current `documents` table; snapshot B is the persisted second
    * release root ([[snapshotB]]) — two real parquet inputs, with the
    * deterministic derivation keeping the oracle a full value gate.
    * Unchanged rows are dropped before the result (the overwhelming
    * majority at scale).
    *
    * Scale: each side reduces to (doc_id, digest) map-side — text never
    * shuffles — then ONE doc_id-keyed full-outer join; at 100 TB that is
    * two 24-byte/row shuffles and nothing else, and with both releases
    * bucketed on doc_id in a catalog it is exchange-free (the same store
    * layout [[dedupIncremental]] uses). */
  private val snapshotDiff = QueryDef(
    "q_snapshot_diff",
    (s, d) => {
      val a = docs(s, d).select(col("doc_id"), md5(col("text")).as("dig_a"))
      val b = snapshotB(s, d).select(col("doc_id"), md5(col("text")).as("dig_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("dig_b").isNull, "removed")
            .when(col("dig_a").isNull, "added")
            .when(col("dig_a") =!= col("dig_b"), "changed"))
        .filter(col("status").isNotNull)
        .select(col("doc_id"), col("status"))
    },
    Some("""WITH a AS (SELECT doc_id, md5(text) AS dig_a FROM documents),
      b AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 7 = 2 THEN text || ' [edited]' ELSE text END) AS dig_b
        FROM documents WHERE doc_id % 11 <> 3
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, md5('recrawl ' || text) AS dig_b
        FROM documents WHERE doc_id % 13 = 5)
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE WHEN b.dig_b IS NULL THEN 'removed'
             WHEN a.dig_a IS NULL THEN 'added'
             ELSE 'changed' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      WHERE b.dig_b IS NULL OR a.dig_a IS NULL OR a.dig_a <> b.dig_b"""))

  /** Distribution drift between two corpus releases: per-bucket PSI
    * (population stability index) contributions over the document-length
    * histogram — the monitoring gate a data lead reads before accepting a
    * new crawl into the training mix. Snapshot B is the persisted second
    * release root ([[snapshotB]], shared with the diff), so the operator
    * reads two real parquet inputs and the drift is real and reproducible
    * on both engines.
    *
    * Numerics: counts are exact integers; Laplace smoothing
    * `(n + 1) / (total + n_buckets)` keeps empty buckets finite; each
    * bucket's `(pa - pb) * ln(pa / pb)` is floored at 1e6 ONCE (the
    * tfidf/bm25 ln-parity convention). Contributions stay PER BUCKET —
    * a global PSI would sum doubles across rows, whose order neither
    * engine guarantees; the consumer sums the e6 integers exactly.
    *
    * Scale: two map-side histogram aggregates (bucket-keyed, map-side
    * combine), one bucket-grain full-outer join, one-row totals
    * broadcast — nothing touches text after the length projection. */
  private val snapshotDrift = QueryDef(
    "q_snapshot_drift",
    (s, d) => {
      val aLen = docs(s, d).select(expr("length(text) div 100").as("bucket"))
      val bLen = snapshotB(s, d).select(expr("length(text) div 100").as("bucket"))
      val na = aLen.groupBy("bucket").agg(count(lit(1)).as("n_a"))
      val nb = bLen.groupBy("bucket").agg(count(lit(1)).as("n_b"))
      val hist = na.join(nb, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
      val tot = hist.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"),
        count(lit(1)).as("nbk"))
      hist.crossJoin(broadcast(tot))
        .withColumn("pa", (col("n_a") + 1).cast("double") / (col("ta") + col("nbk")).cast("double"))
        .withColumn("pb", (col("n_b") + 1).cast("double") / (col("tb") + col("nbk")).cast("double"))
        .select(col("bucket"), col("n_a"), col("n_b"),
          floor((col("pa") - col("pb")) * log(col("pa") / col("pb")) * 1e6)
            .as("psi_e6"))
    },
    Some("""WITH a AS (
        SELECT length(text) // 100 AS bucket FROM documents),
      b AS (
        SELECT length(CASE WHEN doc_id % 7 = 2 THEN text || ' [edited]'
                           ELSE text END) // 100 AS bucket
        FROM documents WHERE doc_id % 11 <> 3
        UNION ALL
        SELECT length('recrawl ' || text) // 100 AS bucket
        FROM documents WHERE doc_id % 13 = 5),
      na AS (SELECT bucket, count(*) AS n_a FROM a GROUP BY bucket),
      nb AS (SELECT bucket, count(*) AS n_b FROM b GROUP BY bucket),
      hist AS (
        SELECT COALESCE(na.bucket, nb.bucket) AS bucket,
          COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        FROM na FULL OUTER JOIN nb ON na.bucket = nb.bucket),
      tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS nbk FROM hist)
      SELECT bucket, n_a, n_b,
        CAST(FLOOR(
          (CAST(n_a + 1 AS DOUBLE) / CAST(ta + nbk AS DOUBLE)
           - CAST(n_b + 1 AS DOUBLE) / CAST(tb + nbk AS DOUBLE))
          * ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + nbk AS DOUBLE))
             / (CAST(n_b + 1 AS DOUBLE) / CAST(tb + nbk AS DOUBLE)))
          * 1e6) AS BIGINT) AS psi_e6
      FROM hist, tot"""))

  /** K-anonymity audit (Sweeney 2002) over the corpus's quasi-identifier
    * tuple — the metadata-level privacy check that complements
    * [[piiScrub]]'s content-level redaction: a doc whose (lang, source,
    * length-band) combination is shared by fewer than K=5 docs is
    * re-identifiable from metadata alone even after its text is scrubbed
    * (the classic linkage-attack surface). Reported at equivalence-class
    * grain with the at-risk flag; a release gate drops or generalizes the
    * flagged classes.
    *
    * Scale shape: ONE aggregate keyed on the QI tuple with full map-side
    * combine; output grain is bounded by QI cardinality (langs x sources
    * x bands), corpus-size-independent. Nothing else moves. */
  private val K_ANON = 5
  private val kAnonymity = QueryDef(
    "q_k_anonymity",
    (s, d) =>
      docs(s, d)
        .select(col("lang"), col("source"),
          expr("n_chars div 500").as("len_band"))
        .groupBy(col("lang"), col("source"), col("len_band"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("at_risk", col("n_docs") < K_ANON),
    Some(s"""SELECT lang, source, n_chars // 500 AS len_band,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) < $K_ANON AS at_risk
      FROM documents GROUP BY 1, 2, 3"""))

  /** L-diversity audit (Machanavajjhala et al. 2007) — the successor
    * check to [[kAnonymity]]: k-anonymity bounds how FEW records share a
    * quasi-identifier tuple, but a class can be large and still leak if
    * every member shares the SENSITIVE value. Here QI = (source,
    * length-band) and the sensitive attribute is `lang`: per equivalence
    * class, the distinct-language count (distinct l-diversity, threshold
    * [[L_DIV]]) and the top language's share (the dominant-value
    * ingredient of recursive (c,l)-diversity) — "can an observer infer a
    * document's language from its source and size alone?". Exact
    * integers throughout.
    *
    * Scale shape: two aggregates on the (QI, lang) then QI grain, both
    * map-side-combined with bounded output (classes × languages), like
    * the k-anonymity audit it extends. */
  private val L_DIV = 2
  private val lDiversity = QueryDef(
    "q_l_diversity",
    (s, d) => {
      val cells = docs(s, d)
        .select(col("source"), expr("n_chars div 500").as("len_band"), col("lang"))
        .groupBy(col("source"), col("len_band"), col("lang"))
        .agg(count(lit(1)).as("nl"))
      cells.groupBy(col("source"), col("len_band"))
        .agg(sum(col("nl")).as("n_docs"),
          count(lit(1)).as("l_distinct"),
          max(col("nl")).as("top_n"))
        .select(col("source"), col("len_band"), col("n_docs"), col("l_distinct"),
          expr("(top_n * 1000000) div n_docs").as("top_share_e6"),
          (col("l_distinct") >= L_DIV).as("diverse"))
    },
    Some(s"""WITH cells AS (
        SELECT source, n_chars // 500 AS len_band, lang,
          CAST(COUNT(*) AS BIGINT) AS nl
        FROM documents GROUP BY 1, 2, 3)
      SELECT source, len_band,
        CAST(SUM(nl) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS l_distinct,
        (CAST(MAX(nl) AS BIGINT) * 1000000) // CAST(SUM(nl) AS BIGINT)
          AS top_share_e6,
        CAST(COUNT(*) AS BIGINT) >= $L_DIV AS diverse
      FROM cells GROUP BY 1, 2"""))

  /** Self-BLEU diversity (Zhu et al. 2018 / Papineni et al. 2002): each
    * sampled document scored as a BLEU candidate against the other
    * sampled documents as references — the corpus-level mode-collapse
    * signal next to [[graft.pipeline.TextAnalysis]]'s distinct-n
    * ratios (distinct-n asks "how much repeats WITHIN a source";
    * Self-BLEU asks "how interchangeable are documents with each
    * other"). Emits the EXACT INTEGER components — clipped modified
    * 1/2-gram precision numerators/denominators and the brevity-penalty
    * inputs (candidate length, closest-reference length with pinned
    * ties) — rather than the final float score: the geometric-mean/exp
    * step is where engines would diverge, and any consumer can finish
    * the arithmetic from the gated rationals (the AUC-components
    * precedent; the spec computes the float score).
    *
    * Scale shape: the corpus contributes ONE seeded-fold
    * TakeOrderedAndProject ([[Sampling]]'s determinized-sample
    * discipline — re-runs select the identical set); everything after
    * operates on the bounded [[SB_N]]-doc checkpointed sample: gram
    * counts, the (n, gram)-keyed clip join, and the 16×15 length pairs
    * are constant-size at any corpus scale (the MMR precedent). */
  private val SB_N = 16
  private val selfBleu = QueryDef(
    "q_self_bleu",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val samp = docs(s, d)
        .withColumn("hx",
          md5(concat(lit("graft-selfbleu-1:"), col("doc_id").cast("string"))))
        .withColumn("pri", expr(s"${Sampling.hexFold("hx")}"))
        .orderBy(col("pri"), col("doc_id")).limit(SB_N)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .filter(size(col("toks")) >= 2)
        .localCheckpoint()
      val lens = samp.select(col("doc_id"), size(col("toks")).cast("long").as("len"))
      val cnt = samp.select(col("doc_id"), explode(expr(
          """array(
               struct(CAST(1 AS BIGINT) AS n, toks AS gs),
               struct(CAST(2 AS BIGINT) AS n,
                 transform(sequence(0, size(toks) - 2),
                   i -> concat_ws(' ', slice(toks, i + 1, 2))) AS gs))""")).as("x"))
        .select(col("doc_id"), col("x.n").as("n"), explode(col("x.gs")).as("gram"))
        .groupBy(col("doc_id"), col("n"), col("gram")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val refs = cnt.select(col("doc_id").as("rid"), col("n").as("rn"),
        col("gram").as("rg"), col("c").as("rc"))
      val clip = cnt
        .join(refs, col("n") === col("rn") && col("gram") === col("rg") &&
          col("doc_id") =!= col("rid"), "left_outer")
        .groupBy(col("doc_id"), col("n"), col("gram"), col("c"))
        .agg(coalesce(max(col("rc")), lit(0L)).as("mr"))
      val prec = clip.groupBy(col("doc_id")).agg(
        sum(when(col("n") === 1, least(col("c"), col("mr"))).otherwise(0L)).as("p1_num"),
        sum(when(col("n") === 1, col("c")).otherwise(0L)).as("p1_den"),
        sum(when(col("n") === 2, least(col("c"), col("mr"))).otherwise(0L)).as("p2_num"),
        sum(when(col("n") === 2, col("c")).otherwise(0L)).as("p2_den"))
      val rlen = lens.select(col("doc_id").as("cid"), col("len").as("c_len"))
        .join(lens.select(col("doc_id").as("rid"), col("len").as("rl")),
          col("cid") =!= col("rid"))
        .withColumn("rn2", row_number().over(Window.partitionBy(col("cid"))
          .orderBy(abs(col("rl") - col("c_len")), col("rl"), col("rid"))))
        .filter(col("rn2") === 1)
        .select(col("cid").as("doc_id"), col("c_len"), col("rl").as("r_len"))
      prec.join(rlen, Seq("doc_id"))
        .select(col("doc_id"), col("c_len"), col("r_len"),
          col("p1_num"), col("p1_den"), col("p2_num"), col("p2_den"))
    },
    Some(s"""WITH samp0 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
            md5('graft-selfbleu-1:' || CAST(doc_id AS VARCHAR)) AS hx
          FROM documents)
        ORDER BY (${Sampling.hexFold("hx")}), doc_id LIMIT $SB_N),
      samp AS MATERIALIZED (
        SELECT doc_id, toks FROM (
          SELECT doc_id,
            list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM samp0)
        WHERE len(toks) >= 2),
      lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM samp),
      uni AS (SELECT doc_id, CAST(1 AS BIGINT) AS n, unnest(toks) AS gram
              FROM samp),
      bi AS (
        SELECT doc_id, CAST(2 AS BIGINT) AS n,
          toks[CAST(u.i AS BIGINT) + 1] || ' ' ||
            toks[CAST(u.i AS BIGINT) + 2] AS gram
        FROM samp, unnest(range(0, len(toks) - 1)) u(i)),
      cnt AS MATERIALIZED (
        SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2, 3),
      clip AS (
        SELECT c.doc_id, c.n, c.gram, c.c,
          CAST(COALESCE(MAX(r.c), 0) AS BIGINT) AS mr
        FROM cnt c LEFT JOIN cnt r
          ON r.n = c.n AND r.gram = c.gram AND r.doc_id <> c.doc_id
        GROUP BY 1, 2, 3, 4),
      prec AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN n = 1 THEN LEAST(c, mr) ELSE 0 END) AS BIGINT) AS p1_num,
          CAST(SUM(CASE WHEN n = 1 THEN c ELSE 0 END) AS BIGINT) AS p1_den,
          CAST(SUM(CASE WHEN n = 2 THEN LEAST(c, mr) ELSE 0 END) AS BIGINT) AS p2_num,
          CAST(SUM(CASE WHEN n = 2 THEN c ELSE 0 END) AS BIGINT) AS p2_den
        FROM clip GROUP BY 1),
      rl AS (
        SELECT doc_id, c_len, r_len FROM (
          SELECT a.doc_id, a.len AS c_len, b.len AS r_len,
            ROW_NUMBER() OVER (PARTITION BY a.doc_id
              ORDER BY ABS(b.len - a.len), b.len, b.doc_id) AS rn2
          FROM lens a JOIN lens b ON a.doc_id <> b.doc_id)
        WHERE rn2 = 1)
      SELECT p.doc_id, r.c_len, r.r_len, p1_num, p1_den, p2_num, p2_den
      FROM prec p JOIN rl r USING (doc_id)"""))

  val all: Seq[QueryDef] =
    Seq(qualityRepetition, entropyFilter, piiScrub, invertedIndex,
      sequencePack, dedupIncremental, dedupBloom, chunkDocuments,
      spanCorrupt, qualityClassifier, substringDedup, snapshotDiff,
      snapshotDrift, kAnonymity, lDiversity, selfBleu)
}
