package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline. Four escalating strategies:
  *
  *   - exact:   hash-groupBy on normalized text (one shuffle of digests)
  *   - n-gram:  *exact* Jaccard similarity join with prefix filtering —
  *              complete (no missed pairs, provably) yet never all-pairs
  *   - minhash: MinHash signatures + LSH banding (probabilistic, cheapest
  *              at extreme scale)
  *   - simhash: 64-bit fingerprints + hamming banding
  *
  * Scale notes: every strategy shuffles keys/buckets, never documents ×
  * documents. The prefix filter orders shingles by global rarity so the hot
  * "common shingle" buckets are never join keys; banding joins group by
  * (band, signature) which is uniformly distributed by construction.
  */
object Dedup {
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  /** Word-trigram shingle set, deduplicated. Docs with fewer than 3 tokens
    * have no trigram and get an empty set — the guard matters because
    * `sequence(1, 0)` is the DESCENDING array [1, 0] (not empty), whose
    * index 0 would crash `slice` (SQL arrays are 1-based). */
  private def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles",
        when(size(col("toks")) >= 3,
          expr("array_distinct(transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i, 3))))"))
          .otherwise(expr("CAST(array() AS array<string>)")))

  /** The shingle set as SORTED xxhash64 fingerprints: set operations on
    * 8-byte longs instead of ~20-char strings (smaller shuffles), and the
    * sorted order lets `graft_jaccard` (functions/JaccardSimilarity.scala)
    * verify pairs with a single allocation-free merge-walk. Jaccard over
    * the hashed sets equals Jaccard over the strings unless xxhash64
    * collides inside one pair's union (~140 values vs 2^64 — never at any
    * realistic corpus size). */
  private def hashedShingles(df: DataFrame): DataFrame =
    withShingles(df)
      .withColumn("shingles",
        expr("array_sort(array_distinct(transform(shingles, s -> xxhash64(s))))"))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .filter(col("n") > 0)

  /** [[hashedShingles]], materialized to parquet before use.
    *
    * The prefix-filter join references the shingle sets from ~6 plan
    * subtrees (both self-join sides, the document-frequency count inside
    * each, both verification probes), and Spark re-evaluates the shingle
    * build — interpreted HOF lambdas, the most expensive expression in
    * this module — in every one (alias-renamed exchanges defeat
    * ReuseExchange). Materializing once is the production shape anyway: at
    * 100 TB the shingle index is built in one pass and reused across every
    * dedup run against it, exactly like an inverted index. And because the
    * copy is JVM-cached per corpus, every dedup strategy shares it within
    * a session: measured at sf0.1, ngram ~1.5x, minhash 3.7 -> 0.8 s and
    * simhash 5.6 -> 3.6 s once the one blocking write is amortized across
    * the family (a cold standalone run pays the write once, still cheaper
    * than re-evaluating the HOF build per plan subtree). */
  /** One index per corpus per JVM, in the [[graft.Tables]] store table:
    * the content is a pure function of the input parquet, so concurrent
    * queries and repeated runs share a single copy instead of leaking a
    * fresh temp directory per invocation, and a changed content token
    * rebuilds it (the superseded copy is condemned). */
  private def materializedShingles(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", SHINGLE_STORE)(hashedShingles(docs(s, d)))

  /** The verified near-dup pair relation as a content-keyed persisted
    * store — the shingle-index discipline one derivation deeper. Seven
    * graph-family queries (pagerank ×2, triangles, k-core, LPA, CC,
    * clusters/report) each consume the SAME (a_id, b_id, J ≥ t) edge set;
    * r11 rebuilt the prefix-filter discovery per query (~2.5-3.5 s apiece
    * at sf0.1, VERDICT r11 #4). One persisted copy per (corpus, t) per JVM
    * amortizes it across the family — exactly the production shape: at
    * 100 TB the dup graph is discovered once and every downstream graph
    * pass reads the stored edges. Freshness rides [[Tables.contentToken]]
    * of the input parquet (the `variant` suffix keys the threshold), so an
    * in-place corpus regen rebuilds instead of serving stale edges. */
  private[graft] def materializedPairs(
      s: SparkSession, d: String, t: Double): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", PAIRS_STORE, s"#t=$t")(
      verifiedPairs(s, d, t))

  /** The store-table families this module owns. */
  private final val SHINGLE_STORE = "graft-shingle-idx"
  private final val PAIRS_STORE = "graft-pairs-idx"
  private final val STRATEGY_STORE = "graft-strat-pairs"
  private final val LABELS_STORE = "graft-cluster-labels"
  private final val CCSTARS_STORE = "graft-ccstars-idx"

  /** Test hook: evict every shared store (table entries now, files after
    * the grace window) so the next consumer rebuilds from scratch — the
    * cluster lane uses it to force the DISCOVERY shuffles (not just the
    * graph rounds) across real executor-JVM boundaries at sf0.1. */
  private[graft] def evictSharedStores(): Unit =
    Tables.evictStores(Set(SHINGLE_STORE, PAIRS_STORE, STRATEGY_STORE,
      LABELS_STORE, CCSTARS_STORE))

  /** Evict only the per-strategy pair stores — the routing/telemetry specs
    * use this to force a strategy's banding to re-run (and its grid
    * decision to re-fire) without also rebuilding the shingle index the
    * banding reads. */
  private[graft] def evictStrategyStores(): Unit =
    Tables.evictStores(_ == STRATEGY_STORE)

  /** Exact dedup: sha256 over normalized text; keep the smallest doc_id per
    * digest. One shuffle keyed by digest — uniform by construction, so no
    * skew at any scale. */
  private val dedupExact = QueryDef(
    "q_dedup_exact",
    (s, d) =>
      docs(s, d)
        .groupBy(sha2(lower(trim(col("text"))), 256).as("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT sha256(lower(trim(text))) AS digest, MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies FROM documents GROUP BY 1"""))

  /** Near-dup via exact n-gram Jaccard with **prefix filtering** (the
    * PPJoin family): a pair with J >= t must share a shingle within each
    * document's first `n - ceil(t*n) + 1` shingles under a global
    * rarity order (overlap >= ceil(t*n) is implied by J >= t). Candidates
    * come only from prefix-shingle buckets, then exact Jaccard verifies.
    * Complete — same output as all-pairs — with candidate generation
    * keyed on *rare* shingles, so no quadratic blowup and no hot buckets
    * at 100 TB. Oracle is the all-pairs formulation (feasible at sf0.01).
    */
  /** All-pairs trigram-Jaccard >= `t` in DuckDB — the shared oracle for
    * every near-dup strategy whose output is "exactly the pairs with
    * J >= t": candidate generation differs (prefix filter / MinHash+LSH /
    * SimHash bands) but each ends in the same exact-Jaccard verification,
    * so a complete candidate generator must reproduce the all-pairs answer
    * bit-for-bit. Completeness is provable for the prefix filter and
    * pigeonhole-guaranteed for SimHash within its hamming radius; for
    * MinHash it is probabilistic (P(miss) ~ 1.9e-4 per J=0.9 pair at
    * 8 bands x 4 rows) — the hashes are seeded, so the check is
    * deterministic for a given corpus. */
  /** The sh/sized/pairs CTE bodies over a given source relation — THE
    * single definition of "trigram-shingle all-pairs Jaccard >= t" on the
    * oracle side, shared by every dedup oracle and by Prep's end-to-end
    * pipeline oracle (so a tokenizer/shingle change can never silently
    * diverge between them). Compose inside a WITH clause. */
  /** The sh/sized CTE bodies alone — THE single oracle-side definition of
    * "trigram shingle sets with sizes", shared by [[pairsCteSql]] (all
    * symmetric-Jaccard oracles) and the containment oracle, so a
    * tokenizer/shingle change cannot silently diverge between them. */
  private[pipeline] def shingleCteSql(rel: String): String =
    s"""sh AS (
        SELECT doc_id,
          list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) shingles
        FROM (SELECT doc_id, string_split(text, ' ') toks FROM $rel)
      ), sized AS (SELECT doc_id, shingles, len(shingles) n FROM sh WHERE len(shingles) > 0)"""

  private[pipeline] def pairsCteSql(rel: String, t: Double): String =
    s"""${shingleCteSql(rel)},
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(FLOOR(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
            nullif(a.n + b.n - len(list_intersect(a.shingles, b.shingles)), 0) * 1e6) AS BIGINT) AS j_e6
        FROM sized a, sized b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.shingles, b.shingles))::DOUBLE /
            nullif(a.n + b.n - len(list_intersect(a.shingles, b.shingles)), 0) >= $t)"""

  private def allPairsJaccardSql(t: Double): String =
    s"""WITH ${pairsCteSql("documents", t)}
      SELECT a_id, b_id, j_e6 FROM pairs"""

  /** The complete verified near-dup pair set (a_id, b_id, j) at threshold
    * `t`, via the prefix-filtered join — shared by [[dedupNgram]] (which
    * emits it) and [[dedupClusters]] (which builds components on it). */
  private[graft] def verifiedPairs(s: SparkSession, d: String, t: Double): DataFrame = {
      val sh = materializedShingles(s, d)
      val exploded = sh.select(col("doc_id"), col("n"),
        explode(col("shingles")).as("shingle"))
      // Global shingle rarity (document frequency). No broadcast hint: the
      // shingle dictionary grows with the corpus (would not fit the driver
      // at 100 TB) — the shingle-keyed shuffle join co-partitions with the
      // explode output, and AQE still broadcasts when it is actually small.
      val dfreq = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val ranked = exploded.join(dfreq, "shingle")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
        .filter(col("rk") <= col("n") - ceil(lit(t) * col("n")) + 1)
        .select(col("doc_id"), col("n"), col("shingle"), col("rk"))
      // Candidate pairs: prefix-bucket self-join (a < b) with two sound
      // prunes before the distinct:
      //  - length filter: J >= t implies t <= |A|/|B| <= 1/t;
      //  - PPJoin position filter: overlap >= ceil(t/(1+t)·(na+nb)) is
      //    required for J >= t, and at a pair's FIRST shared rarity-ranked
      //    shingle (positions rx, ry) the overlap is bounded by
      //    1 + min(na-rx, nb-ry). Later shared shingles may be wrongly
      //    pruned by this bound, but the union over bucket entries always
      //    retains the first match, so completeness is preserved — the
      //    filter only sheds redundant entries and dense-bucket noise.
      val cands = ranked.as("x").join(ranked.as("y"), "shingle")
        .filter(col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * t <= col("y.n") && col("y.n") * t <= col("x.n") &&
          lit(1) + least(col("x.n") - col("x.rk"), col("y.n") - col("y.rk")) >=
            ceil(lit(t / (1 + t)) * (col("x.n") + col("y.n"))))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      // Exact verification on the full shingle sets.
      val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
      val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
      cands.join(a, "a_id").join(b, "b_id")
        .withColumn("j", call_function("graft_jaccard", col("sa"), col("sb")))
        .filter(col("j") >= t)
        .select(col("a_id"), col("b_id"), col("j"))
  }

  private val dedupNgram = QueryDef(
    "q_dedup_ngram",
    (s, d) =>
      materializedPairs(s, d, 0.5)
        .select(col("a_id"), col("b_id"), floor(col("j") * 1e6).as("j_e6")),
    Some(allPairsJaccardSql(0.5)))

  /** Asymmetric CONTAINMENT near-dup: pairs where >= 80% of doc A's
    * trigram shingles appear in doc B (C(A,B) = |A∩B|/|A| >= t) — the
    * boilerplate-wrapper / quote-expansion / near-superset duplicates
    * that symmetric Jaccard structurally misses (a page embedded in a
    * 10x-larger template has J ~ 0.1 but C ~ 1.0; a training pipeline
    * that only runs Jaccard dedup keeps every such wrapped copy).
    *
    * Candidate generation is the containment form of the prefix filter:
    * C >= t forces overlap >= ceil(t·nA), so A must share one of its
    * (nA - ceil(t·nA) + 1) RAREST shingles (global-df order) with B —
    * but unlike the Jaccard join there is no prefix on the container
    * side (B may be arbitrarily large), so B contributes its full
    * posting list and the only B-prune is the length filter nB >= t·nA.
    * Rarity-first prefixes keep the probed posting lists small; a doc
    * whose whole prefix is common shingles still probes hot lists — the
    * honest worst case, same class as the simhash residual (a df-cap
    * would break completeness; MinHash cannot express containment, so
    * this IS the scale path for this semantics). The probe join rides a
    * TWO-SIDED block grid (VERDICT r13 next #2 — the same per-task work
    * cap the banding path has had since r8): a shingle whose prefix side
    * holds k docs and whose posting list holds m docs would otherwise
    * land its whole k·m pair grid on ONE task (AQE cannot see join-output
    * skew); gridding both sides on (shingle, p, q) caps each task's cell
    * at ~[[GRID_CELL]]² probe evals with each (a, b) meeting exactly once
    * per shared prefix shingle (x fixed p × exploded q, y fixed q ×
    * exploded p). Replication totals x·⌈m/CELL⌉ + m·⌈k/CELL⌉ rows — B=1
    * (zero replication) everywhere outside the saturated-vocab regime —
    * and the y side's inner join against the prefix-side counts PRUNES
    * every posting list no prefix references, which never generated a
    * candidate but previously still shuffled. Candidate MASS is unchanged
    * (that is containment's honest quadratic worst case); its layout
    * stops being a straggler. Exact verification
    * (`graft_overlap` merge-walk on the sorted hashed sets — zero per-row
    * allocation) keeps zero false positives;
    * all threshold arithmetic is integer (ceil(4n/5) as `(4n+4) div 5`,
    * micros-scaled compares) — 0.8 is inexact in binary, and a float
    * ceil at an integer boundary would silently shorten the prefix and
    * void the pigeonhole. Oracle: all-pairs containment in DuckDB. */
  private val dedupContainment = QueryDef(
    "q_dedup_containment",
    (s, d) => {
      val sh = materializedShingles(s, d)
      val exploded = sh.select(col("doc_id"), col("n"),
        explode(col("shingles")).as("shingle"))
      val dfreq = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      // Rank EVERY (doc, shingle) by global rarity — the prefix filter
      // needs it on the A side, and the position filter (below) needs it
      // on the container side too.
      val ranked = exploded.join(dfreq, "shingle")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      val prefixA = ranked
        .filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
        .select(col("doc_id"), col("n"), col("shingle"), col("rk"))
      // Per-shingle side sizes: k (prefix entries) and m (posting list =
      // df, already aggregated). Both land on the shingle-keyed exchange
      // the probe join needs anyway.
      val xcnt = prefixA.groupBy(col("shingle"))
        .agg(count(lit(1)).as("xn"))
      val sides = xcnt.join(dfreq, "shingle")
        .withColumn("xb",
          ceil(col("xn") / lit(GRID_CELL.toDouble)).cast("int"))
        .withColumn("yb",
          ceil(col("df") / lit(GRID_CELL.toDouble)).cast("int"))
        // Occupancy witness, same discipline as gridSelfPairs: the grid
        // escalates by itself; the decision layer makes it observable.
        // (Observe BEFORE the projection drops df.)
        .observe(GRID_METRIC_PREFIX + "containment",
          max(col("df")).as("max_bucket_n"),
          max(greatest(col("xb"), col("yb"))).as("max_grid_b"))
        .select(col("shingle"), col("xb"), col("yb"))
      val xs = prefixA.join(sides, "shingle")
        .select(col("shingle"), col("doc_id"), col("n"), col("rk"),
          pmod(xxhash64(col("doc_id")), col("xb")).cast("int").as("p"),
          explode(expr("sequence(0, yb - 1)")).as("q"))
      // Inner join against `sides` also prunes posting lists of shingles
      // that appear in NO prefix — they cannot generate candidates.
      val ys = ranked.select(col("shingle"), col("doc_id").as("y_id"),
          col("n").as("y_n"), col("rk").as("y_rk"))
        .join(sides, "shingle")
        .select(col("shingle"), col("y_id"), col("y_n"), col("y_rk"),
          explode(expr("sequence(0, xb - 1)")).as("p"),
          pmod(xxhash64(col("y_id")), col("yb")).cast("int").as("q"))
      // Position filter, containment form (the prune that collapses the
      // saturated-vocab regime — sf1 measured 30.7M survivors of the
      // length filter vs 816 true pairs before it landed): both shingle
      // sets are sorted by the SAME global (df, shingle) order, so at a
      // shared shingle seen at positions (rx, ry) the total overlap is
      // ≤ 1 + min(nA - rx, nB - ry); C ≥ t needs overlap ≥ ceil(t·nA).
      // Complete: the FIRST shared shingle in that global order is
      // provably in A's prefix (if it were in A's suffix, ALL shared
      // would be — but the suffix holds ceil(t·nA) - 1 < overlap
      // shingles), every other shared shingle ranks later in BOTH docs,
      // so the bound is exact at that first match and the union over
      // bucket entries always retains it — later entries may be shed,
      // they are redundant. Integer throughout: ceil(4n/5) = (4n+4) div 5.
      // NO mid-pipeline distinct: a pair repeats once per shared prefix
      // shingle of A, but measured duplication at sf1 is ~2% (26.5M rows
      // → 26.07M pairs) while the 26M-row distinct cost ~8 s — dedup
      // happens AFTER verification instead, where survivors are of
      // output cardinality (816 at sf1), for free.
      val cands = xs.join(ys, Seq("shingle", "p", "q"))
        .filter(col("doc_id") =!= col("y_id") &&
          col("y_n") * 5L >= col("n") * 4L &&
          lit(1) + least(col("n") - col("rk"), col("y_n") - col("y_rk")) >=
            expr("(4 * n + 4) div 5"))
        .select(col("doc_id").as("a_id"), col("y_id").as("b_id"))
      val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"),
        col("n").as("na"))
      val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
      cands.join(a, "a_id").join(b, "b_id")
        // graft_overlap_ge: allocation-free merge-walk over the sorted
        // hashed sets (r15's graft_overlap replaced the per-pair hash set +
        // output array of size(array_intersect(..)) — ~26M allocations at
        // sf1) with the r16 POSITION-AWARE EARLY EXIT: the walk aborts once
        // inter + min(remaining) < needed — the ~97% non-survivor majority
        // stops after ~(1-t)·n steps instead of walking both sets to the
        // end. Hash-safe: survivors (bound never trips) get the EXACT
        // count for c_e6; non-survivors return a partial count strictly
        // below `needed`, which the ≥-filter rejects exactly as before.
        // needed = ceil(4·na/5) in integer form, same as the filter.
        .withColumn("inter",
          expr("graft_overlap_ge(sa, sb, (4 * na + 4) div 5)"))
        .filter(col("inter") * 5L >= col("na") * 4L)
        .select(col("a_id"), col("b_id"),
          expr("inter * 1000000L div na").as("c_e6"))
        .distinct()
    },
    Some(s"""WITH ${shingleCteSql("documents")}
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        len(list_intersect(a.shingles, b.shingles)) * 1000000 // a.n AS c_e6
      FROM sized a, sized b
      WHERE a.doc_id != b.doc_id
        AND len(list_intersect(a.shingles, b.shingles)) * 5 >= a.n * 4"""))

  /** MinHash + LSH banding (probabilistic near-dup at extreme scale):
    * 32 minhashes = 8 bands x 4 rows; docs sharing any band signature are
    * candidates; exact Jaccard verifies (so no false positives — only
    * recall is probabilistic: P(detect) = 1-(1-J^4)^8, ~1 at J >= 0.9).
    * Signatures come from explode + 32 codegen'd `min(xxhash64(i, s))`
    * aggregates — measured 8x faster than the shuffle-free nested
    * transform/array_min form (interpreted HOF lambdas cost far more than
    * the doc-keyed combine shuffle they avoid; map-side partial min makes
    * that shuffle carry one row per doc anyway).
    * Oracle: the exact all-pairs answer ([[allPairsJaccardSql]]) — the
    * exact-Jaccard verification step means any candidate-recall miss shows
    * up as a hash mismatch, so the DuckDB gate checks completeness on this
    * corpus, not just precision (plus the planted-duplicate recall test in
    * PipelineSpec). */
  private val NUM_HASHES = 32
  private val BAND_ROWS = 4
  private def minhashCols: Seq[Column] =
    (0 until NUM_HASHES).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))

  /** ~Max docs per grid cell side: a cell evaluates at most CELL² / 2
    * candidate pairs, whatever the bucket size. */
  private[graft] val GRID_CELL = 1024

  /** Observed-metric prefix for the per-bucket grid's runtime occupancy
    * witness (see [[gridSelfPairs]]); [[graft.Sessions]] registers a
    * listener that turns each observation into a [[GridDecision]]
    * (structured registry + log), not just a WARN line. */
  private[graft] val GRID_METRIC_PREFIX = "graft.grid."

  /** Structured verdict on one grid site's observed occupancy — what the
    * runtime witness ACTS on (round-8 verdict: the witness only warned;
    * nothing decided anything).
    *
    * The block grid itself already auto-escalates without bound: B =
    * ceil(n/CELL) is data-derived, so per-TASK pair work is capped at
    * ~CELL²/2 no matter how hot a bucket gets. What the grid cannot fix
    * is TOTAL candidate mass — a bucket of n docs emits ~n²/2 candidate
    * pairs whatever the layout, replicating n·B band rows to spread them.
    * The decision layer names the regime that cost model puts the site in:
    *
    *  - `linear` (B == 1): zero replication, the common path.
    *  - `absorbed` (1 < B <= [[GRID_SATURATION_B]]): a hot bucket
    *    escalated the grid; per-task work stays bounded and total extra
    *    work (≤ SATURATION_B· n replicated rows, ≤ SATURATION_B²·CELL²/2
    *    pair evals per bucket) is within the linear budget's headroom.
    *    Observable, no action needed.
    *  - `saturated` (B > SATURATION_B): this banding has stopped
    *    discriminating on this corpus — total candidate mass for the
    *    bucket (> (32·CELL)²/2 ≈ 5·10⁸ pair evals) grows quadratically
    *    and no grid layout changes that. `recommendation` carries the
    *    site's documented strategy escape ([[gridEscapes]]). */
  final case class GridDecision(site: String, maxBucket: Int, gridB: Int,
      regime: String, recommendation: Option[String])

  private[graft] val GRID_SATURATION_B = 32

  /** The documented per-site escape hatches for the `saturated` regime —
    * the strategy switch the round-8 notes prescribed in prose, now
    * machine-surfaced. */
  private[graft] val gridEscapes: Map[String, String] = Map(
    "simhash" -> ("correlated fingerprints have saturated the 16-bit pair " +
      "bands; switch to MinHash banding (q_dedup_minhash), whose bucket " +
      "mass tracks true-Jaccard duplicate mass instead of tf-weight " +
      "correlation — the documented path past ~10^6 docs"),
    "minhash" -> ("a duplicate cluster of this size dominates the corpus; " +
      "shard by content digest prefix and dedup shards independently " +
      "before cross-shard reconciliation (executable: minhashPairsSharded, " +
      "routed by nearDupAuto when this site reads saturated)"),
    "minhash_sharded" -> ("still saturated AFTER digest-prefix sharding — " +
      "one cluster exceeds shards x saturation mass; raise MINHASH_SHARDS " +
      "or pre-collapse exact duplicates (q_dedup_exact) before banding"),
    "semantic" -> ("a snowballed k-means cluster; raise the cluster count " +
      "toward sqrt(N) (q_dedup_semantic_adaptive) so per-cluster pair " +
      "mass stays bounded"),
    "containment" -> ("a hot posting list's pair grid has saturated — " +
      "candidate MASS is quadratic in bucket occupancy whatever the " +
      "layout (containment semantics forbid a df-cap); pre-collapse " +
      "exact duplicates (q_dedup_exact) so template copies stop " +
      "multiplying the container side, then re-probe"))

  /** Map an observed (site, max bucket, grid B) to its [[GridDecision]]
    * under the cost model above. Pure — unit-testable at thresholds the
    * end-to-end specs cannot affordably construct (a `saturated` corpus
    * would have to emit >5·10⁸ pairs). */
  private[graft] def gridDecision(metric: String, maxBucket: Int,
      gridB: Int): GridDecision = {
    val site = metric.stripPrefix(GRID_METRIC_PREFIX)
    if (gridB <= 1)
      GridDecision(site, maxBucket, gridB, "linear", None)
    else if (gridB <= GRID_SATURATION_B)
      GridDecision(site, maxBucket, gridB, "absorbed", None)
    else
      GridDecision(site, maxBucket, gridB, "saturated",
        Some(gridEscapes.getOrElse(site,
          "candidate mass is quadratic at this site; switch banding strategy")))
  }

  /** Self-join of band buckets with PER-BUCKET block-grid decomposition —
    * the fix for join-OUTPUT skew that AQE cannot see (input bytes stay
    * balanced while one hot bucket's pair grid lands on one task; measured
    * as a 27.6 s max-task at the 500k-doc probe).
    *
    * A bucket of n docs gets B = ceil(n / CELL) blocks: each doc gets a
    * stable block id, the x side replicates over q, the y side over p, and
    * the join key (band, sig, p, q) spreads the bucket's pair grid over B²
    * cells of ≤ ~CELL²/2 pair evaluations each. Buckets with n ≤ CELL get
    * B = 1 — zero replication on the common path, so the grid costs
    * nothing until a bucket is actually hot, and replicated rows total
    * Σ n·ceil(n/CELL) ≈ candidates/CELL — always ≪ the candidate count the
    * bucket must emit anyway. Each (x, y) pair meets exactly once (at
    * p = x.blk, q = y.blk), so the candidate set is unchanged.
    * The bucket size comes from a window count over (band, sig) — the
    * same single hash exchange the pair join needs anyway, no extra
    * aggregate-join pass over the bucket set.
    *
    * `buckets` needs (doc_id, band, sig); `carry` columns ride along and
    * come back as both `c` (x side) and `y_c` (y side).
    *
    * `metric` names an `observe()` witness (`graft.grid.<metric>`) carrying
    * `max_bucket_n` (max docs sharing one (band, sig) bucket this run) and
    * `max_grid_b` (the largest B the grid chose) — the runtime occupancy
    * measurement round 7's notes flagged as missing. The grid raises B by
    * itself (nblk is data-derived); the metric makes the escalation — and
    * any future need to retune CELL — observable per query instead of only
    * in a postmortem scale probe. Names are per call-site so two grid joins
    * composed in one query keep distinct observation names. */
  private def gridSelfPairs(buckets: DataFrame, carry: Seq[String],
      metric: String): DataFrame = {
    val wb = Window.partitionBy(col("band"), col("sig"))
    val withB = buckets
      .withColumn("bucket_n", count(lit(1)).over(wb).cast("int"))
      .withColumn("nblk",
        ceil(col("bucket_n") / lit(GRID_CELL.toDouble)).cast("int"))
      .withColumn("blk", pmod(xxhash64(col("doc_id")), col("nblk")).cast("int"))
      .observe(GRID_METRIC_PREFIX + metric,
        max(col("bucket_n")).as("max_bucket_n"),
        max(col("nblk")).as("max_grid_b"))
    val xs = withB.select(Seq(col("doc_id"), col("band"), col("sig"),
      col("blk").as("p"),
      explode(expr("sequence(0, nblk - 1)")).as("q")) ++ carry.map(col): _*)
    val ys = withB.select(Seq(col("doc_id").as("y_id"), col("band"), col("sig"),
      explode(expr("sequence(0, nblk - 1)")).as("p"),
      col("blk").as("q")) ++ carry.map(c => col(c).as(s"y_$c")): _*)
    xs.join(ys, Seq("band", "sig", "p", "q"))
      .filter(col("doc_id") < col("y_id"))
  }

  /** MinHash band buckets for every doc: (doc_id, band, sig). */
  private def minhashBuckets(s: SparkSession, d: String): DataFrame = {
    val sh = materializedShingles(s, d)
    val sigs = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(minhashCols.head, minhashCols.tail: _*)
    // Band signatures: hash each r-row slice of the signature.
    val bands = (0 until NUM_HASHES / BAND_ROWS).map { b =>
      val cols = (0 until BAND_ROWS).map(r => col(s"h${b * BAND_ROWS + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Exact-Jaccard verification of candidate pairs at threshold `t` —
    * the stage every minhash route ends in (identical precision on every
    * route: only true J >= t pairs survive). */
  private def jaccardVerify(s: SparkSession, d: String, cands: DataFrame,
      t: Double): DataFrame = {
    val sh = materializedShingles(s, d)
    val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    cands.join(a, "a_id").join(b, "b_id")
      .withColumn("j", call_function("graft_jaccard", col("sa"), col("sb")))
      .filter(col("j") >= t)
      .select(col("a_id"), col("b_id"), floor(col("j") * 1e6).as("j_e6"))
  }

  /** The MinHash strategy's full pair pipeline (bands → grid → exact
    * Jaccard verify at `t`), shared by the gated q_dedup_minhash and the
    * strategy router [[nearDupAuto]]. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
      val t = 0.5
      // Per-bucket grid: a giant duplicate cluster (every member shares
      // every band signature) emits its pair grid across many tasks
      // instead of one straggler.
      val cands = gridSelfPairs(minhashBuckets(s, d), Seq.empty, "minhash")
        .select(col("doc_id").as("a_id"), col("y_id").as("b_id"))
        .distinct()
      jaccardVerify(s, d, cands, t)
  }

  /** Default shard count for [[minhashPairsSharded]] — S² rep pairs per
    * saturated bucket stay trivial while a saturated bucket's intra-shard
    * pair mass drops by ~S. */
  private[graft] val MINHASH_SHARDS = 16

  /** The minhash site's SATURATED-regime escape, executable (VERDICT r9
    * next-round #4 — the recommendation existed only as prose): dedup
    * digest-prefix shards independently, then reconcile across shards
    * through per-shard representatives.
    *
    * Mechanics: buckets whose occupancy exceeds `satBucket` (the grid
    * saturation point, [[GRID_SATURATION_B]]·[[GRID_CELL]] — beyond it
    * total candidate mass is quadratic whatever the layout) split by each
    * member's content-digest prefix into `nShards` sub-buckets. Pair
    * emission inside a sub-bucket is complete (the block grid still
    * applies within it), so a saturated bucket's pair mass drops from
    * ~n²/2 to ~n²/(2·S). Cross-shard reconciliation links the shards:
    * the minimum-doc_id representative of every sub-bucket pairs with
    * every other representative of the same original bucket (≤ S²/2
    * candidate rows per saturated bucket), and all candidates pass the
    * same exact-Jaccard verify.
    *
    * Contract: on a corpus with NO saturated bucket every doc lands in
    * sub-bucket 0 and the representative stage is empty — output is
    * IDENTICAL to [[minhashPairs]] by construction (PropertySpec pins
    * this on the gate corpus). In the saturated regime the emitted pair
    * LIST within giant buckets is intra-shard + representative pairs
    * rather than all-pairs — the CLUSTER structure survives whenever the
    * saturating cluster is a J >= t clique (a giant template-duplicate
    * cluster is; representatives are mutual near-dups so the verify
    * keeps their links), which is exactly the regime the decision layer
    * routes here. A J-chain that straddles shards can lose links — the
    * price of de-quadratizing, stated rather than hidden. Digest-prefix
    * sharding also means EXACT duplicates co-shard (same digest), so
    * exact-duplicate mass never needs reconciliation at all. */
  private[graft] def minhashPairsSharded(s: SparkSession, d: String,
      nShards: Int = MINHASH_SHARDS,
      satBucket: Int = GRID_SATURATION_B * GRID_CELL): DataFrame = {
    val t = 0.5
    val shards = Tables.t(s, d, "documents").select(col("doc_id"),
      pmod(conv(substring(sha2(col("text"), 256), 1, 8), 16, 10).cast("long"),
        lit(nShards.toLong)).cast("int").as("shard"))
    val wb = Window.partitionBy(col("band"), col("sig"))
    val eff = minhashBuckets(s, d).join(shards, "doc_id")
      .withColumn("bucket_n", count(lit(1)).over(wb).cast("int"))
      .withColumn("eshard",
        when(col("bucket_n") > satBucket, col("shard")).otherwise(lit(0)))
    // Intra-shard: the normal grid over (band, sig ⊕ shard) — identical
    // to the unsharded buckets wherever eshard is uniformly 0.
    val intra = gridSelfPairs(
      eff.select(col("doc_id"), col("band"),
        xxhash64(col("sig"), col("eshard")).as("sig")),
      Seq.empty, "minhash_sharded")
      .select(col("doc_id").as("a_id"), col("y_id").as("b_id"))
    // Cross-shard reconciliation: representatives of each saturated
    // bucket's sub-buckets pair with each other (≤ S²/2 rows per bucket).
    val reps = eff.filter(col("bucket_n") > satBucket)
      .groupBy(col("band"), col("sig"), col("eshard"))
      .agg(min(col("doc_id")).as("doc_id"))
    val cross = reps.as("x").join(reps.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    jaccardVerify(s, d, intra.unionByName(cross).distinct(), t)
  }

  // RECALL DEPENDENCY (ADVICE r10): this query's oracle is the EXHAUSTIVE
  // all-pairs ground truth, so the gate stays green only while banding
  // recall is complete on the gate corpus (q_dedup_cross_source inherits
  // the same exposure through minhashPairs). That dependency is gated
  // ONCE, in its honest probabilistic form, by q_dedup_recall_cert below —
  // a regen-planted marginal-J miss flips this gate AND the cert names
  // the cause (marginal zone vs broken banding).
  private val dedupMinhash = QueryDef(
    "q_dedup_minhash",
    (s, d) => materializedStrategyPairs(s, d, "minhash"),
    Some(allPairsJaccardSql(0.5)))

  /** Above this exact Jaccard, a banding miss is the SCHEME's fault, not
    * statistics: P(miss) = (1-J^4)^8 < 5% for J > 0.747 with the 8x4
    * banding above. */
  private[graft] val RECALL_HIGH_J = 0.75

  /** MinHash banding-recall certification (ADVICE r10: q_dedup_minhash and
    * q_dedup_cross_source both ride banding recall being complete on the
    * gate corpus; gate that shared dependency once, explicitly). The
    * banding's real contract is probabilistic — P(detect) = 1-(1-J^4)^8 —
    * so certifying "recall == 1" would be the same corpus luck restated.
    * What IS certifiable:
    *
    *  - `n_true`: the exhaustive J >= 0.5 truth count, computed here by
    *    the provably-complete prefix-filtered join ([[verifiedPairs]])
    *    and recomputed by DuckDB from first principles (all-pairs CTE) —
    *    pins Spark's truth set to ground truth;
    *  - `found_subset_of_true`: every banding-emitted pair is a true pair
    *    (precision; the exact-Jaccard verify guarantees it, and this
    *    cross-checks the two pipelines' shingle definitions agree);
    *  - `no_high_j_missed`: every true pair the banding missed has
    *    J <= [[RECALL_HIGH_J]] — the zone where P(miss) >= ~5% makes a
    *    miss statistically expected. A miss ABOVE it means the banding is
    *    broken, not unlucky.
    *
    * Deterministic per corpus (fixed xxhash64 seeds), so the gate is
    * stable run-over-run; a testdata regen that plants a marginal-J
    * band-evading pair fails q_dedup_minhash's exhaustive oracle while
    * this cert stays green and localizes the cause. */
  private val dedupRecallCert = QueryDef(
    "q_dedup_recall_cert",
    (s, d) => {
      val truth = materializedPairs(s, d, 0.5)
        .select(col("a_id"), col("b_id"), col("j")).withColumn("in_t", lit(1))
      val found = materializedStrategyPairs(s, d, "minhash")
        .select(col("a_id"), col("b_id")).withColumn("in_f", lit(1))
      truth.join(found, Seq("a_id", "b_id"), "full_outer")
        .agg(
          count(col("in_t")).as("n_true"),
          (count(when(col("in_t").isNull, 1)) === 0)
            .as("found_subset_of_true"),
          (count(when(col("in_f").isNull && col("j") > RECALL_HIGH_J, 1)) === 0)
            .as("no_high_j_missed"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)}
      SELECT count(*) AS n_true, TRUE AS found_subset_of_true,
        TRUE AS no_high_j_missed
      FROM pairs"""))

  /** 64-bit SimHash fingerprints: sign of the tf-weighted sum of each
    * token-hash bit. Exposed for the spec layer, which measures true
    * hamming distances to validate the radius below. */
  private[graft] def simhashFingerprints(df: DataFrame): DataFrame = {
    // Each token OCCURRENCE contributes ±1 per bit; summing occurrences
    // equals weighting distinct tokens by tf, so no (doc, token)
    // pre-aggregation is needed — one shuffle (doc-keyed, with map-side
    // partial sums over the 64 counters) instead of two.
    val toks = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"b$j"))
    toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash's hamming radius — the operator's semantic contract.
    * Radius 6 (down from round-6's 7) is a DELIBERATE scale decision:
    * it unlocks 16-bit chunk-PAIR banding (below), which collapses the
    * intrinsically quadratic candidate mass 8-bit single-chunk banding
    * had on correlated fingerprints — the one residual super-linear law
    * the round-6 scale probe could not remove. Pigeonhole for the pair
    * scheme: <= 6 flipped bits dirty at most 6 of the 8 chunks, leaving
    * >= 2 clean chunks, so at least one of the C(8,2)=28 chunk pairs
    * matches exactly. At radius 7 the guarantee would be void (7 flips
    * can dirty 7 chunks, leaving one clean chunk and no clean pair —
    * PropertySpec constructs the evasion), which is why the radius and
    * the banding move in lockstep. */
  private[graft] val SIMHASH_RADIUS = 6

  /** SimHash near-dup: candidates = pairs at hamming distance <=
    * [[SIMHASH_RADIUS]], found by banding the 64-bit fingerprint into all
    * C(8,2)=28 ordered PAIRS of its 8-bit chunks (16-bit signatures);
    * exact trigram Jaccard then verifies, so precision is exact at any
    * scale.
    *
    * Why pairs: an 8-bit band has 256 values, and tf-weighted fingerprints
    * on natural language correlate heavily, making some values
    * near-universal — candidate mass grew ~quadratically (12.7x wall for
    * 10x docs at the round-6 probe) no matter how the join was spread.
    * A 16-bit pair band has 65536 values: the same correlated corpus
    * spreads ~256x thinner per band, so the expected bucket occupancy —
    * and with it the quadratic residual — collapses, at the price of
    * 28/8 = 3.5x band rows (narrow ints) and the radius-7 → 6 contract
    * change. Any residual hot bucket (two near-constant chunks make a
    * near-constant pair) is handled by the PER-BUCKET block grid
    * ([[gridSelfPairs]]), which replaced round 6's static B = 8 grid:
    * zero replication until a bucket actually exceeds a grid cell, and a
    * bounded per-task pair count when one does — the static grid's 8x
    * blanket replication doubled the wall once pair banding had dissolved
    * the common-case skew (probe: 23 s vs 11 s at 10x docs).
    *
    * The radius is simhash's semantic boundary, and it is a different
    * similarity than set-Jaccard: the fingerprint is tf-weighted, so a
    * near-dup whose token *frequencies* diverge (e.g. one side repeats or
    * appends content) can sit far outside the radius while its trigram
    * *set* overlap stays high — sf0.001 contains a real J=0.89 pair at
    * hamming 53. On the sf0.01 gate corpus every J >= 0.5 pair lies within
    * hamming 5, so the all-pairs Jaccard oracle is exact there at radius 6
    * just as it was at 7; PipelineSpec asserts the precise contract
    * (== all J >= 0.5 pairs within the radius) with independently measured
    * hamming. MinHash ([[dedupMinhash]]) is the strategy without the
    * tf-weighting blind spot; simhash buys the cheapest signatures
    * (64 bits/doc) in exchange. */
  /** The SimHash strategy's full pair pipeline (pair bands → grid → exact
    * Jaccard verify), shared by the gated q_dedup_simhash and the strategy
    * router [[nearDupAuto]]. */
  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame = {
      val fps = simhashFingerprints(docs(s, d))
      // 28 bands: band id c1*8+c2, signature = (chunk c1 << 8) | chunk c2.
      val bands = for { c1 <- 0 until 8; c2 <- c1 + 1 until 8 } yield
        struct(lit(c1 * 8 + c2).as("band"),
          shiftleft(shiftright(col("simhash"), c1 * 8).bitwiseAND(0xFFL), 8)
            .bitwiseOR(shiftright(col("simhash"), c2 * 8).bitwiseAND(0xFFL))
            .as("sig"))
      val buckets = fps.select(col("doc_id"), col("simhash"),
        explode(array(bands: _*)).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.sig").as("sig"))
      // Band-mates are only *possible* in-radius pairs: the exact
      // bit_count filter — ints already in the join row, no extra data
      // fetched — kills the rest of the candidate stream before the
      // (expensive) shingle-set join and Jaccard verify. The per-bucket
      // grid ([[gridSelfPairs]]) bounds any residual hot 16-bit bucket.
      val cands = gridSelfPairs(buckets, Seq("simhash"), "simhash")
        .filter(bit_count(col("simhash").bitwiseXOR(col("y_simhash"))) <= SIMHASH_RADIUS)
        .select(col("doc_id").as("a_id"), col("y_id").as("b_id"))
        .distinct()
      val t = 0.5
      val sh = materializedShingles(s, d).select(col("doc_id"), col("shingles"))
      cands
        .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
        .withColumn("j", call_function("graft_jaccard", col("sa"), col("sb")))
        .filter(col("j") >= t)
        .select(col("a_id"), col("b_id"), floor(col("j") * 1e6).as("j_e6"))
  }

  /** Per-STRATEGY pair-output stores — the [[materializedPairs]]
    * discipline applied to each banding strategy's own emitted pair set
    * (VERDICT r12 next-round #1/#7). The simhash banding pipeline was
    * derived twice per run (q_dedup_simhash + q_dedup_auto's default
    * route, the suite's slowest PAIR at 2.2 s each) and the minhash
    * pipeline three times (q_dedup_minhash, q_dedup_recall_cert,
    * q_dedup_cross_source) — yet each derivation is a pure function of
    * (corpus content, strategy), exactly the shape the content-keyed
    * store family already amortizes. One persisted copy per (corpus,
    * strategy) per JVM; freshness rides [[Tables.contentToken]] so a
    * regen rebuilds; the sharded escape route stays live (it only runs
    * under a double-saturated routing decision, never twice per run).
    * Production shape at 100 TB: a dedup strategy's verified pair set IS
    * the deliverable relation — it is discovered once and read by every
    * consumer, not re-banded per downstream query. */
  private[graft] def materializedStrategyPairs(
      s: SparkSession, d: String, strat: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", STRATEGY_STORE, s"#strat=$strat")(
      strat match {
        case "simhash" => simhashPairs(s, d)
        case "minhash" => minhashPairs(s, d)
        case other => throw new IllegalArgumentException(
          s"no stored strategy '$other' (sharded escape runs live)")
      })

  /** Test hook: which strategy stores exist for corpus `d` right now —
    * the reuse/routing specs read this instead of plan shapes (the served
    * plan is a store scan on every route once the store exists). */
  private[graft] def storedStrategies(d: String): Set[String] = {
    val prefix = s"$d/documents.parquet#strat="
    Tables.storeEntries.collect {
      case e if e.store == STRATEGY_STORE && e.key.startsWith(prefix) =>
        e.key.stripPrefix(prefix)
    }.toSet
  }

  private val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    (s, d) => materializedStrategyPairs(s, d, "simhash"),
    Some(allPairsJaccardSql(0.5)))

  /** STRATEGY-ADAPTIVE near-dup dedup — the operator that ACTS on the
    * grid occupancy decisions (closing the round-8 "the witness only
    * WARNs" gap end-to-end): route to SimHash banding (cheapest
    * signatures, 64 bits/doc) by default, but if this session's LAST
    * observed simhash grid decision is `saturated` — correlated
    * fingerprints have densified the pair bands past the point any grid
    * layout helps — take the documented escape automatically and run
    * MinHash banding instead.
    *
    * Why auto-switching is SAFE here: both strategies end in the same
    * exact-Jaccard verification at the same threshold — identical
    * PRECISION (every emitted pair is a true J >= t pair on either
    * route) — and minhash's candidate recall DOMINATES simhash's: the
    * Jaccard-thinned bands see everything the tf-weighted hamming radius
    * sees plus the tf-divergent near-dups the radius is blind to
    * (sf0.001 carries a real J = 0.89 pair at hamming 53; SkewSpec
    * asserts escape-route output is a strict superset there). So the
    * switch can only improve completeness while removing the saturated
    * regime's quadratic candidate mass — which is exactly why minhash is
    * the documented escape. The routing consults driver-local telemetry
    * only — no extra Spark jobs — and is deterministic given the
    * registry state; on the gate corpus the registry reads `linear`, the
    * simhash path runs, and both routes equal the shared all-pairs
    * oracle anyway. */
  /** The pure routing decision given each site's latest observed regime —
    * unit-testable without a registry or a session. Routes follow the
    * documented escapes ([[gridEscapes]]): simhash saturated → minhash
    * banding; minhash ALSO saturated → digest-prefix sharded minhash
    * ([[minhashPairsSharded]] — r9's prose recommendation, now
    * executable). */
  private[graft] def autoRoute(simhashRegime: Option[String],
      minhashRegime: Option[String]): String =
    (simhashRegime, minhashRegime) match {
      case (Some("saturated"), Some("saturated")) => "minhash_sharded"
      case (Some("saturated"), _) => "minhash"
      case _ => "simhash"
    }

  private[graft] def nearDupAuto(s: SparkSession, d: String): DataFrame = {
    def regime(site: String): Option[String] =
      graft.Sessions.latestGridDecision(GRID_METRIC_PREFIX + site).map(_.regime)
    autoRoute(regime("simhash"), regime("minhash")) match {
      // The banding routes serve the per-strategy stores: within a run
      // the router's chosen strategy is derived once per JVM and SHARED
      // with that strategy's own gated query (r12 made q_dedup_auto +
      // q_dedup_simhash the suite's slowest pair by re-deriving the same
      // banding twice). The sharded escape stays live — it only fires
      // under a double-saturated decision.
      case "minhash_sharded" => minhashPairsSharded(s, d)
      case "minhash" => materializedStrategyPairs(s, d, "minhash")
      case _ => materializedStrategyPairs(s, d, "simhash")
    }
  }

  private val dedupAuto = QueryDef(
    "q_dedup_auto",
    (s, d) => nearDupAuto(s, d),
    Some(allPairsJaccardSql(0.5)))

  /** One labels result per corpus per JVM: [[dedupClusters]] and
    * [[dedupKeepBest]] both consume the component labels, and the label
    * propagation is an eager multi-round computation — without the cache
    * each consumer re-runs every round. Same discipline as
    * [[materializedShingles]]: the result persists as a temp PARQUET
    * (session-free files — a cached DataFrame would hold dead-session
    * checkpoint blocks after a gateway restart-in-place), keyed on the
    * corpus content token, stale entries deleted in place. */
  private[graft] def clusterLabelsCached(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", LABELS_STORE)(clusterLabels(s, d))

  /** Connected-component labels over the verified near-dup pairs —
    * [[dedupClusters]]'s body, shared with [[dedupKeepBest]] (which picks
    * a quality representative per component). Components come from
    * distributed min-label propagation — each round every node takes the
    * min label among itself and its neighbors; converges in O(component
    * diameter) rounds, each round one co-partitioned join + aggregate,
    * `localCheckpoint` capping lineage growth (the GraphX-Pregel shape
    * without the GraphX dependency). Convergence is detected by the
    * strictly-decreasing label sum — one scalar per round, no
    * plan-growing comparisons. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame = {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
      val edges = pairs
        .union(pairs.select(col("b_id"), col("a_id")))
        .toDF("u", "v")
        .localCheckpoint()
      var labels = edges.select(col("u").as("id")).distinct()
        .withColumn("lbl", col("id"))
        .localCheckpoint()
      var prevSum = Long.MaxValue
      var curSum = labels.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
      var rounds = 0
      while (curSum != prevSum && rounds < 30) {
        val viaNeighbors = edges
          .join(labels.select(col("id").as("v"), col("lbl")), "v")
          .select(col("u").as("id"), col("lbl"))
        // The checkpoint before the self-join both caps lineage growth and
        // gives the lookup side independent attributes.
        val propagated = labels.select(col("id"), col("lbl"))
          .union(viaNeighbors)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
          .localCheckpoint()
        // Pointer jumping (path compression): also adopt the label of the
        // current label — labels are node ids, so label(label(id)) is
        // always defined and <= label(id) under min-propagation. This
        // turns O(diameter) convergence into O(log diameter), so the
        // round cap is a genuine safety net (2^30 diameter), not a
        // correctness cliff for long duplicate chains.
        val lookup = propagated.toDF("lbl", "lbl2")
        labels = propagated.join(lookup, "lbl")
          .select(col("id"), least(col("lbl"), col("lbl2")).as("lbl"))
          .localCheckpoint()
        prevSum = curSum
        curSum = labels.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
        rounds += 1
      }
      // Fail loudly rather than emit wrong components: non-convergence is
      // detectable (the label sum is still falling), so never discard it.
      require(curSum == prevSum,
        s"label propagation did not converge in $rounds rounds")
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Dedup *clustering*: near-dup pairs are only half the decision — a
    * keep/drop policy needs connected components over the pair graph
    * (A~B, B~C ⇒ {A,B,C} is one duplicate cluster even when A~C misses
    * the threshold). The oracle computes the same components via a
    * recursive CTE. Output: every clustered doc with its cluster id
    * (= min doc_id in the component — the canonical "keep"
    * representative). */
  private val dedupClusters = QueryDef(
    "q_dedup_clusters",
    (s, d) => clusterLabelsCached(s, d),
    Some(s"""WITH RECURSIVE ${pairsCteSql("documents", 0.5)},
      edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach(src, dst) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
      SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src"""))

  /** The dedup REPORT a pipeline run actually emits: corpus size, verified
    * near-dup pair count, how many documents participate in any near-dup
    * relation, and that as a fraction — the number a data lead reads
    * before approving a drop. Reuses [[verifiedPairs]] (and the
    * materialized shingle index), so the marginal cost over the dedup
    * itself is three scalar aggregates; the one-row × one-row crosses are
    * trivially broadcast. */
  private val dedupReport = QueryDef(
    "q_dedup_report",
    (s, d) => {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
      val inDup = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id")))
        .agg(countDistinct(col("id")).as("n_docs_in_dup"))
      val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
      docs(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(nPairs))
        .crossJoin(broadcast(inDup))
        .select(col("n_docs"), col("n_pairs"), col("n_docs_in_dup"),
          floor(col("n_docs_in_dup").cast("double") / col("n_docs") * 1e6)
            .as("dup_frac_e6"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)},
      d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      p AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
      u AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs_in_dup FROM (
        SELECT a_id AS id FROM pairs UNION ALL SELECT b_id FROM pairs))
      SELECT n_docs, n_pairs, n_docs_in_dup,
        CAST(FLOOR(CAST(n_docs_in_dup AS DOUBLE) / n_docs * 1e6) AS BIGINT)
          AS dup_frac_e6
      FROM d, p, u"""))

  /** Cross-source duplication matrix: verified near-dup pair counts per
    * UNORDERED source pair — the curation view that answers "which crawls
    * duplicate each other" (and how much of a new source is already
    * covered by the existing mix) before anyone pays to ingest it.
    * Pairs come from [[minhashPairs]] — the banding SCALE PATH, not the
    * exact-complete ngram prefix join: this view is a corpus-grain
    * telemetry matrix, and riding the prefix join would bind it to that
    * family's documented dictionary-saturation regime (the r10 probe's
    * third decade hit exactly that: candidate spill filled the disk at
    * 500k synthetic docs, while minhash shuffle stays linear). Both
    * generators end in the same exact-Jaccard verify at the same
    * threshold, and minhash recall vs all-pairs truth is itself gated
    * (q_dedup_minhash shares this query's all-pairs oracle, and
    * q_dedup_recall_cert names the shared dependency explicitly: both
    * gates ride banding recall being complete on the gate corpus —
    * probabilistically expected at the corpus's J distribution, certified
    * in the honest form there), so the
    * matrix is identical wherever banding recall is complete. Marginal
    * cost beyond the pair pipeline: two doc_id-keyed joins to the
    * (doc_id, source) projection — text never shuffles — and a
    * source-grain aggregate (source cardinality is tiny at any corpus
    * size, so the final aggregate is metadata). The pair is
    * canonicalized with least/greatest so (A,B) and (B,A) count once. */
  private val dedupCrossSource = QueryDef(
    "q_dedup_cross_source",
    (s, d) => {
      val pairs = materializedStrategyPairs(s, d, "minhash")
        .select(col("a_id"), col("b_id"))
      val src = docs(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)}
      SELECT LEAST(da.source, db.source) AS source_a,
        GREATEST(da.source, db.source) AS source_b,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs p
      JOIN documents da ON p.a_id = da.doc_id
      JOIN documents db ON p.b_id = db.doc_id
      GROUP BY 1, 2"""))

  /** Cluster-representative selection — the survivor rule a curation
    * pipeline applies AFTER clustering: within each near-dup component,
    * keep the highest-quality member (here: most tokens, the keep-longest
    * rule; ties to the lowest doc_id) and report the component size. The
    * canonical min-id representative ([[dedupClusters]]) answers "which
    * cluster"; this answers "which member survives the drop".
    *
    * Scale: reuses [[clusterLabels]] (pointer-jumped label propagation,
    * linear rounds), one doc_id-keyed join to per-doc token counts (text
    * never shuffles — counts do), then a cluster-keyed window at CLUSTER
    * grain (rows per key = component size, bounded by the dedup
    * threshold's transitive closure — the same cardinality the clustering
    * itself already shuffled). */
  /** The survivor selection over a given labels relation — shared by the
    * gated query (cached labels) and the ScaleProbe (uncached, so the
    * measured scaling covers the propagation, not a parquet read). */
  private[graft] def keepBestFrom(s: SparkSession, d: String,
      labels: DataFrame): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val ranked = labels.join(toks, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_toks").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
    ranked.filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("n_members"), col("n_toks").as("kept_toks"))
  }

  private val dedupKeepBest = QueryDef(
    "q_dedup_keep_best",
    (s, d) => keepBestFrom(s, d, clusterLabelsCached(s, d)),
    Some(s"""WITH RECURSIVE ${pairsCteSql("documents", 0.5)},
      edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach(src, dst) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                   FROM reach GROUP BY src),
      toks AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
               FROM documents),
      ranked AS (
        SELECT c.cluster_id, c.doc_id, t.n_toks,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_id
            ORDER BY t.n_toks DESC, c.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        FROM clusters c JOIN toks t USING (doc_id))
      SELECT cluster_id, doc_id AS kept_doc,
        CAST(n_members AS BIGINT) AS n_members, n_toks AS kept_toks
      FROM ranked WHERE rn = 1"""))

  /** Edit-distance fuzzy self-join (PassJoin-style segment filtering,
    * Li/Deng/Feng VLDB'11): find document pairs whose fixed-width key (the
    * first 20 chars, '~'-padded so every key is exactly 20 chars and the
    * equal-length pigeonhole is airtight) is within edit distance τ=3.
    *
    * Candidate scheme: the indexed side splits its key into τ+1=4 fixed
    * 5-char segments; if ed(a,b) ≤ τ, an optimal alignment leaves at least
    * one of b's segments untouched (pigeonhole over ≤τ edits), and that
    * segment appears verbatim in `a` shifted by the NET indel count before
    * it. Because every key is rpad'ed to exactly [[FUZZY_KLEN]] chars, the
    * alignment's insertions and deletions must balance (I = D), so
    * I + D + S ≤ τ forces I = D ≤ ⌊τ/2⌋ and the shift window is
    * [-⌊τ/2⌋, +⌊τ/2⌋] = ±1 — NOT ±τ (the r8 form probed ±3: provably 3x
    * wider than the equal-length geometry needs; PropertySpec's randomized
    * indel generator pins the tight bound). The probe side emits the
    * substring at every (segment, shift∈[-1,1]) position — ≤10 five-char
    * probe keys per row after boundary clipping (was 22),
    * `array_distinct`-deduped — and candidates join on
    * (segment, substring). Verification = real `levenshtein` with the τ
    * early-exit threshold, on candidates only.
    *
    * Ordered-emission suppression (the PPJoin trick applied to PassJoin
    * segments) was implemented and MEASURED OUT (r9): emitting each pair
    * only from its first matching segment cut candidates a further 4%
    * (61.6M → 59.1M at the 10x probe) but the in-cell predicate (~8
    * substring equalities per collision row) tripled the quadratic
    * kernel's per-pair cost (cells wall 2.3 s → 5.5 s, max task 0.8 s →
    * 3.8 s) — because `distinct`'s map-side partial aggregation already
    * collapses duplicate collisions before they shuffle, the rows saved
    * were nearly free anyway. Rarity-ordering the emissions cannot beat
    * position-ordering here either: the join has generated every
    * collision row before any ordering can act, and the survivor count
    * (one per pair) is identical under any total order. The window
    * shrink above is where the candidate mass actually went.
    *
    * Scale: never all-pairs — the shuffle carries (key, 5-char gram) pairs
    * keyed by the gram, exactly the n-gram dedup shape, over DISTINCT keys
    * only (exact-dup mass collapses before banding and expands back after
    * verification); candidate count is governed by segment selectivity
    * over the distinct-key population, and the ±⌊τ/2⌋ window halves the
    * per-bucket probe mass a saturated vocabulary densifies. */
  private val FUZZY_TAU = 3
  private val FUZZY_KLEN = 20
  private val FUZZY_SEG = FUZZY_KLEN / (FUZZY_TAU + 1)
  // Equal-length keys: net indels before any segment ≤ ⌊τ/2⌋ (I = D).
  private val FUZZY_SHIFT = FUZZY_TAU / 2
  // Re-probed at the ±1 window (10x, saturated vocab): 256 vs 512 is a
  // wall wash (6.3 vs 6.6 s, within load noise) and 512 carries ~30%
  // less replication shuffle (32 vs 48 MB) — keep the r8 knee.
  private val FUZZY_CELL = 512

  /** The fuzzy-join grid's per-(segment, gram) cell table — bucket sizes
    * on both sides and the block counts the 2D grid chose. Exposed so the
    * skew spec can assert escalation DIRECTLY on a hot-gram corpus: the
    * in-plan observe() witness is unusable here — the candidate subtree
    * gets broadcast into the expansion joins and a CollectMetrics riding
    * a broadcast subtree never surfaces its metrics (measured; the
    * semantic-dedup grid keeps its observe because its pair stage stays
    * on a streamed path). */
  /** The ONE construction of the fuzzy join's working tables — rpad-20
    * keys, distinct keys, the index-side fixed segments and the
    * probe-side shift-window substrings. Both the query and the grid
    * cells derive from THESE DataFrames, so the (seg, sub) keys the cnts
    * join matches against are the same subtree by construction (two
    * independent copies could silently diverge and the inner join would
    * drop candidates). Returns (keyed, probed, indexed). */
  private def fuzzyParts(s: SparkSession, d: String,
      shiftW: Int = FUZZY_SHIFT): (DataFrame, DataFrame, DataFrame) = {
    val keyed = docs(s, d).select(col("doc_id"),
      rpad(substring(col("text"), 1, FUZZY_KLEN), FUZZY_KLEN, "~").as("k"))
    val dkeys = keyed.select(col("k")).distinct()
    val indexSegs = (0 to FUZZY_TAU).map(i =>
      struct(lit(i).as("seg"),
        substring(col("k"), i * FUZZY_SEG + 1, FUZZY_SEG).as("sub")))
    val indexed = dkeys
      .select(col("k").as("kb"), explode(array(indexSegs: _*)).as("e"))
      .select(col("kb"), col("e.seg").as("seg"), col("e.sub").as("sub"))
    val probeSegs = for {
      i <- 0 to FUZZY_TAU
      delta <- -shiftW to shiftW
      start = i * FUZZY_SEG + delta
      if start >= 0 && start + FUZZY_SEG <= FUZZY_KLEN
    } yield struct(lit(i).as("seg"),
      substring(col("k"), start + 1, FUZZY_SEG).as("sub"))
    val probed = dkeys
      .select(col("k").as("ka"),
        explode(array_distinct(array(probeSegs: _*))).as("e"))
      .select(col("ka"), col("e.seg").as("seg"), col("e.sub").as("sub"))
    (keyed, probed, indexed)
  }

  /** The fuzzy join's candidate stream — gridded collision rows after the
    * ka < kb orientation filter, BEFORE the distinct+verify stages.
    * Parameterized on the shift window (and the measured-out suppression
    * experiment, see the q_fuzzy_join scaladoc) so the ScaleProbe can A/B
    * the r8 form (±τ window) against the current one on the same corpus;
    * the gated query consumes the defaults. */
  private[graft] def fuzzyCandidates(s: SparkSession, d: String,
      shiftW: Int = FUZZY_SHIFT, suppress: Boolean = false): DataFrame = {
    val (_, probed, indexed) = fuzzyParts(s, d, shiftW)
    val cnts = gridCellsFrom(probed, indexed)
      .select(col("seg"), col("sub"), col("bp"), col("bi"))
    val xs = probed.join(cnts, Seq("seg", "sub"))
      .withColumn("p", pmod(xxhash64(col("ka")), col("bp")).cast("int"))
      .withColumn("q", explode(expr("sequence(0, bi - 1)")))
      .select(col("seg"), col("sub"), col("p"), col("q"), col("ka"))
    val ys = indexed.join(cnts, Seq("seg", "sub"))
      .withColumn("q", pmod(xxhash64(col("kb")), col("bi")).cast("int"))
      .withColumn("p", explode(expr("sequence(0, bp - 1)")))
      .select(col("seg"), col("sub"), col("p"), col("q"), col("kb"))
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    // suppress=true keeps a collision row only at the FIRST segment of kb
    // matching ka — retained for the probe's A/B record only; the gated
    // query runs without it (measured: -4% rows, +2.4x cell wall).
    def segMatches(j: Int): Column = (for {
      delta <- -shiftW to shiftW
      st = j * FUZZY_SEG + delta
      if st >= 0 && st + FUZZY_SEG <= FUZZY_KLEN
    } yield substring(col("ka"), st + 1, FUZZY_SEG) ===
        substring(col("kb"), j * FUZZY_SEG + 1, FUZZY_SEG))
      .reduce(_ || _)
    val earlierMatch = (1 to FUZZY_TAU).map(i =>
      col("seg") === i && (0 until i).map(segMatches).reduce(_ || _))
      .reduce(_ || _)
    val joined = xs.repartition(nPart, col("seg"), col("sub"), col("p"), col("q"))
      .join(ys.repartition(nPart, col("seg"), col("sub"), col("p"), col("q")),
        Seq("seg", "sub", "p", "q"))
      .filter(col("ka") < col("kb"))
    if (suppress) joined.filter(!earlierMatch) else joined
  }

  private def gridCellsFrom(probed: DataFrame, indexed: DataFrame): DataFrame =
    probed.groupBy("seg", "sub")
      .agg(count(lit(1)).cast("int").as("np"))
      .join(indexed.groupBy("seg", "sub")
        .agg(count(lit(1)).cast("int").as("ni")), Seq("seg", "sub"))
      .withColumn("bp", ceil(col("np") / lit(FUZZY_CELL.toDouble)).cast("int"))
      .withColumn("bi", ceil(col("ni") / lit(FUZZY_CELL.toDouble)).cast("int"))

  private[graft] def fuzzyGridCells(s: SparkSession, d: String): DataFrame = {
    val (_, probed, indexed) = fuzzyParts(s, d)
    gridCellsFrom(probed, indexed)
  }

  private val fuzzyJoin = {
    val TAU = FUZZY_TAU
    val KLEN = FUZZY_KLEN
    val SEG = FUZZY_SEG
    QueryDef(
      "q_fuzzy_join",
      (s, d) => {
        // Exact-key collapse first (the 10x probe measured 100x shuffle
        // growth without it): key-sharing docs — the exact-dup mass — add
        // nothing to the CANDIDATE problem, so segment banding runs over
        // DISTINCT keys ([[fuzzyParts]]) and doc pairs come back by
        // expansion at the end: within-key pairs are dist=0 by definition
        // (one output-bound equi join); cross-key pairs expand each
        // verified distinct-key pair by its doc lists.
        // 2D block grid over the candidate join — the [[gridSelfPairs]]
        // discipline, asymmetric form ([[fuzzyCandidates]]). A saturated-
        // vocabulary corpus concentrates 5-char grams: one hot (seg, sub)
        // bucket's pair grid otherwise lands on ONE task (measured: a
        // 141 s max task at the 10x probe while total shuffle stayed 2 MB
        // — join-OUTPUT skew that AQE cannot see). Each side's bucket
        // splits into ceil(n/CELL) blocks (every pair meets in exactly one
        // (p, q) cell of ≤ CELL² pair evaluations); the explicit numbered
        // repartition on the cell key keeps AQE's byte-based coalescing
        // from packing the CPU-quadratic cells onto one task.
        // keyed comes from fuzzyParts (its ONE-construction invariant): a
        // second inline copy of the rpad-20 normalization could silently
        // diverge from the candidate keys and drop every cross-key pair.
        val (keyed, _, _) = fuzzyParts(s, d)
        // Verify BEFORE dedup (r14, the containment lesson): the r9 A/B
        // measured candidate rows only ~4% duplicated (61.6M rows →
        // 59.1M pairs on the saturating probe corpus), so the full-width
        // distinct priced the whole candidate stream to collapse almost
        // nothing. The τ-bounded levenshtein is a per-row codegen'd
        // band-DP over two 20-char keys — cheaper than shuffling the
        // pair for dedup — and the distinct moves AFTER it, where
        // survivors are output-cardinality (dist is deterministic per
        // pair, so dedup-after-verify is value-identical).
        val close = fuzzyCandidates(s, d)
          .select(col("ka"), col("kb"))
          .withColumn("dist",
            levenshtein(col("ka"), col("kb"), TAU).cast("long"))
          .filter(col("dist") >= 0)
          .distinct()
        val da = keyed.select(col("doc_id").as("ia"), col("k").as("ka"))
        val db = keyed.select(col("doc_id").as("ib"), col("k").as("kb"))
        val cross = close.join(da, "ka").join(db, "kb")
          .select(least(col("ia"), col("ib")).as("a_id"),
            greatest(col("ia"), col("ib")).as("b_id"), col("dist"))
        val within = da
          .join(db, col("ka") === col("kb") && col("ia") < col("ib"))
          .select(col("ia").as("a_id"), col("ib").as("b_id"),
            lit(0L).as("dist"))
        cross.unionAll(within)
      },
      Some(s"""WITH k AS (
          SELECT doc_id, rpad(substr(text, 1, $KLEN), $KLEN, '~') AS k
          FROM documents)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
        FROM k a, k b
        WHERE a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= $TAU"""))
  }

  /** Content-defined chunking + chunk-level cross-document duplication
    * (the rsync/LBFS/FastCDC idea, made relational — public): cut each
    * document where a rolling content hash of the trailing [[CDC_W]]
    * chars hits 0 mod [[CDC_D]] (boundaries move WITH the content, so an
    * insertion early in a copied document re-synchronizes after ~one
    * chunk, where fixed-span shingles — q_substring_dedup's 8-token
    * grid — would mis-align for the whole tail). Per doc: chunk count,
    * chunks whose content hash appears in ≥ 2 distinct docs, and the
    * duplicated char mass — the span-level excision signal at
    * variable-width grain.
    *
    * The window hash is md5 of the trailing-W substring (portable;
    * hash-of-window ≡ rolling hash by definition — a production run
    * would swap in a gear/Rabin O(1)-slide hash, same boundaries
    * CONTRACT, not the same constants). No min/max chunk clamp: the
    * boundary decision stays per-POSITION (embarrassingly parallel);
    * clamping would make it sequential.
    *
    * Scale shape: boundary detection and chunk extraction are map-only
    * array expressions (every chunk of a doc derives from the doc's own
    * row); the only corpus-grain exchanges key on the chunk-content
    * hash — uniform by construction — for the distinct-doc count and
    * the join back (same key, exchange reused). The doc-keyed rollup is
    * a partial-agg combine. Text never shuffles; chunk hashes do. */
  private val CDC_W = 16
  private val CDC_D = 64
  private val cdcDedup = QueryDef(
    "q_cdc_dedup",
    (s, d) => {
      val base = graft.Tables.spreadForRowCpu(docs(s, d))
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      // Boundary scan through the native kernel (r14): values identical
      // to the interpreted transform/filter chain it replaced (the md5
      // window rule is the oracle contract; FunctionsSpec pins the
      // differential), but each window digests in place instead of
      // allocating substring + hex + an 8-term fold per char position.
      val ch = base
        .withColumn("bounds", call_function("graft_cdc_bounds",
          col("text"), lit(CDC_W), lit(CDC_D)))
        .withColumn("cuts", expr(
          "array_distinct(concat(array(CAST(0 AS BIGINT)), bounds, array(len)))"))
        .withColumn("chunk", explode(expr(
          """IF(size(cuts) < 2, CAST(array() AS array<string>),
               transform(sequence(1, size(cuts) - 1),
                 k -> substring(text, CAST(element_at(cuts, k) + 1 AS INT),
                   CAST(element_at(cuts, k + 1) - element_at(cuts, k) AS INT))))""")))
        .select(col("doc_id"), md5(col("chunk")).as("h"),
          length(col("chunk")).cast("long").as("clen"))
        // Select once, consume twice (r16 — the q_winnow_fingerprint
        // precedent): the dup count and the join-back both consume this
        // narrow (doc_id, h, clen) relation, and without the checkpoint
        // each re-runs the graft_cdc_bounds boundary scan + chunk explode
        // over the full text column. Text itself is never materialized.
        .localCheckpoint()
      val dup = ch.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      ch.join(dup, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("nd") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
    },
    Some {
      val fold = Sampling.hexFold("md5(substring(b.text, CAST(t.i AS BIGINT) - 15, 16))")
      s"""WITH base AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM documents),
        pos AS (
          SELECT b.doc_id, CAST(t.i AS BIGINT) AS i
          FROM base b, unnest(range($CDC_W, len + 1)) AS t(i)
          WHERE ($fold) % $CDC_D = 0),
        cuts AS (
          SELECT DISTINCT doc_id, c FROM (
            SELECT doc_id, CAST(0 AS BIGINT) AS c FROM base
            UNION ALL SELECT doc_id, len FROM base
            UNION ALL SELECT doc_id, i FROM pos) u),
        spans AS (
          SELECT doc_id, c AS lo,
            LEAD(c) OVER (PARTITION BY doc_id ORDER BY c) AS hi
          FROM cuts),
        chunks AS (
          SELECT s.doc_id,
            md5(substring(b.text, CAST(s.lo + 1 AS INT), CAST(s.hi - s.lo AS INT))) AS h,
            s.hi - s.lo AS clen
          FROM spans s JOIN base b USING (doc_id)
          WHERE s.hi IS NOT NULL AND s.hi > s.lo),
        dup AS (
          SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
          FROM chunks GROUP BY 1)
        SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
          CAST(SUM(CASE WHEN d.nd >= 2 THEN c.clen ELSE 0 END) AS BIGINT) AS dup_chars
        FROM chunks c JOIN dup d USING (h)
        GROUP BY 1"""
    })

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): hash every K-token gram, slide a W-gram window, keep the
    * window's MINIMUM hash (ties to the RIGHTMOST position, the paper's
    * rule), dedup the (position, hash) selections. The paper's guarantee,
    * which neither neighbor op has: any shared token run of length >=
    * W + K - 1 (= 11 here) is caught by a shared fingerprint, and nothing
    * shorter than K tokens ever matches — local, position-robust
    * fingerprinting between [[Curation]]'s rigid 8-token grid (alignment-
    * sensitive) and [[cdcDedup]]'s content-defined chunks (boundary-rule-
    * sensitive). Reported per doc: fingerprints kept and how many are
    * shared with another doc.
    *
    * Scale shape: gram hashing and window selection are map-only array
    * expressions over each doc's own row (fingerprint DENSITY is the
    * winnowing point — ~2/(W+1) of gram count, so the exploded relation
    * is a fraction of token mass); the only corpus-grain exchanges key on
    * the fingerprint hash ([[hexFold]]-uniform by construction) for the
    * distinct-doc count and the join back. Text never shuffles. Window
    * selection runs in the native `graft_winnow` kernel since r12 (an
    * O(m) monotonic-deque pass since r13; the interpreted
    * slice/reverse/min form it replaced, [[winnowSelHof]], cost ~2.3×
    * the wall at 10× and is kept as the FunctionsSpec differential
    * oracle); gram hashing runs in `graft_gram_fold_hashes` since r13 —
    * the same portable md5-fold values the oracle recomputes, digested
    * over byte spans with zero per-gram allocations. */
  private val WIN_K = 4
  private val WIN_W = 8

  /** The interpreted-HOF window selection the native `graft_winnow`
    * kernel replaced (r12): kept as FunctionsSpec's differential oracle
    * (the gopherStatsHof precedent). Expects columns `gh` (array<bigint>)
    * and `m` (gram count) in scope. */
  private[graft] def winnowSelHof(w: Int): Column = expr(
    s"""array_distinct(transform(sequence(1, m - ${w - 1}), j ->
          struct(
            CAST(j + $w - array_position(
              reverse(slice(gh, CAST(j AS INT), $w)),
              array_min(slice(gh, CAST(j AS INT), $w))) AS BIGINT) AS pos,
            array_min(slice(gh, CAST(j AS INT), $w)) AS fph)))""")

  private val winnow = QueryDef(
    "q_winnow_fingerprint",
    (s, d) => {
      val base = graft.Tables.spreadForRowCpu(docs(s, d))
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("toks"))
        .withColumn("m", (size(col("toks")) - lit(WIN_K - 1)).cast("long"))
        .filter(col("m") >= WIN_W)
      val fps = base
        // Gram hashing via the native graft_gram_fold_hashes kernel (r13,
        // VERDICT r12 #3): the identical seeded-md5 fold VALUES — the
        // DuckDB oracle recomputes them from first principles, so the
        // hash must stay the portable md5 fold, not a Spark-seeded
        // xxhash64 — digested over byte spans of one joined buffer
        // instead of two interpreted transforms allocating a gram
        // string + hex string + 8-term fold per position.
        .withColumn("gh",
          call_function("graft_gram_fold_hashes", col("toks"), lit(WIN_K)))
        // Window selection via the native graft_winnow kernel (r12): one
        // compiled right-to-left scan per window instead of four
        // interpreted array allocations — bit-identical to [[winnowSelHof]]
        // (FunctionsSpec differential pins it).
        .withColumn("sel",
          explode(call_function("graft_winnow", col("gh"), lit(WIN_W))))
        .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fph").as("fph"))
        // Select once, consume twice: the dup count and the join-back are
        // both fed by this narrow relation, and without the checkpoint
        // each re-runs the interpreted-HOF window selection — the 100x
        // stage drill measured the selection at ~33 s/task TWICE (65 s
        // wall); materializing (doc_id, pos, fph) halves it (the ccnet/
        // curriculum score-once precedent).
        .localCheckpoint()
      val dup = fps.groupBy(col("fph")).agg(countDistinct(col("doc_id")).as("nd"))
      fps.join(dup, Seq("fph"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fps"))
    },
    Some {
      val fold = Sampling.hexFold(
        "md5(array_to_string(toks[u.i:u.i + 3], ' '))")
      s"""WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
          FROM documents),
        t2 AS (SELECT doc_id, toks, CAST(len(toks) - ${WIN_K - 1} AS BIGINT) AS m
               FROM t WHERE len(toks) - ${WIN_K - 1} >= $WIN_W),
        grams AS (
          SELECT doc_id, CAST(u.i AS BIGINT) AS i, ($fold) AS gh
          FROM t2, unnest(range(1, m + 1)) u(i)),
        wins AS (
          SELECT doc_id, CAST(u.j AS BIGINT) AS j
          FROM t2, unnest(range(1, m - ${WIN_W - 1} + 1)) u(j)),
        sel AS (
          SELECT w.doc_id, w.j, g.i AS pos, g.gh,
            ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.j
              ORDER BY g.gh ASC, g.i DESC) AS rn
          FROM wins w JOIN grams g
            ON g.doc_id = w.doc_id AND g.i BETWEEN w.j AND w.j + ${WIN_W - 1}),
        fps AS (SELECT DISTINCT doc_id, pos, gh FROM sel WHERE rn = 1),
        dup AS (SELECT gh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
                FROM fps GROUP BY 1)
        SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
          CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fps
        FROM fps f JOIN dup d USING (gh)
        GROUP BY 1"""
    })

  /** PageRank over the verified near-dup graph (Brin & Page 1998) — the
    * canonical fixed-point graph operator, run where a curation pipeline
    * actually needs one: centrality inside duplication neighborhoods.
    * High-rank nodes are the hubs of template/boilerplate families (the
    * doc every variant is near), which is a better canonical-pick signal
    * than [[dedupKeepBest]]'s local length rule when families chain
    * A~B~C without A~C.
    *
    * Determinism across engines: the float recurrence is replaced by a
    * PINNED integer one — pr₀ = 1e9 div n; per round, each node emits
    * pr div deg along every edge and absorbs base + (85·inflow) div 100,
    * base = (15·(1e9 div n)) div 100 — all int64 sums and divs, so the
    * 8-round unroll is bit-identical in DuckDB (MATERIALIZED per round;
    * an inlined round would re-evaluate the all-pairs edge CTE 8×).
    *
    * Scale shape: the classic Pregel loop. Edges (symmetrized pairs) are
    * built once and localCheckpointed; every round is one edge⋈rank join
    * co-partitioned on the node key plus a dst-keyed partial-agg shuffle
    * of (node, long) pairs — contributions combine map-side, no vectors,
    * no text, no growing lineage (per-round checkpoint, the BPE-round
    * precedent). Rounds are fixed (8), not run-to-convergence: at 100 TB
    * the iteration budget must be a plan constant, and 8 rounds on a
    * damping-0.85 walk bounds the residual below the e9 quantum on
    * near-dup-family graphs (diameter is small by construction — families
    * are cliques-with-bridges, not paths). */
  private val pagerank = QueryDef(
    "q_pagerank",
    (s, d) => {
      // Checkpoint BEFORE symmetrizing: the self-union otherwise embeds
      // the verified-pairs prefix-join subtree twice and pays the whole
      // pair discovery double (measured: the first probe of this operator
      // carried 2x the q_dedup_ngram shuffle before the loop even began).
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
        .localCheckpoint()
      GraphOps.integerPagerank(pairs.union(pairs.select(col("b_id"), col("a_id"))))
        .select(col("node").as("doc_id"), col("deg"), col("pr").as("pr_e9"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)},
        e AS MATERIALIZED (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
        ${GraphOps.pagerankCtesSql}
        SELECT node AS doc_id, deg, pr AS pr_e9 FROM r8"""))

  /** Triangle counting + local clustering coefficient on the verified
    * near-dup graph (the "forward" node-iterator of Schank & Wagner 2005):
    * orient every edge by id (a < b), join wedges on the middle node, and
    * close them against the oriented edge list — each triangle is found
    * exactly once as a < b < c. LCC(v) = 2·t(v)/(deg(v)·(deg(v)−1)),
    * quantized e6 with exact integer arithmetic. The curation read: a dup
    * FAMILY with LCC ≈ 1 is a clique (one template, safe to collapse to
    * any canonical); LCC ≈ 0 with high degree is a hub/chain (drifted
    * copies where A~B~C but A≁C — collapse needs [[pagerank]]'s
    * centrality or [[dedupKeepBest]]'s rule, not an arbitrary pick).
    * Completes the graph family: components ([[dedupClusters]]),
    * centrality ([[pagerank]]), cohesion (this).
    *
    * Scale shape: pair discovery (checkpointed once) dominates, as
    * measured for pagerank; the wedge join keys on the middle node and
    * the close join on the (a, c) pair — both bounded by the oriented
    * wedge mass Σ_b d⁺(b)·d⁻(b), the standard forward-algorithm bound
    * (cliques of size k intrinsically cost C(k,3) — that's output, not
    * plan waste). Only (id, id) pairs ever shuffle. */
  private val triangles = QueryDef(
    "q_triangle_count",
    (s, d) => {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
        .localCheckpoint()
      val deg = pairs.union(pairs.select(col("b_id"), col("a_id")))
        .toDF("node", "other")
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val p1 = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
      val p2 = pairs.select(col("a_id").as("b2"), col("b_id").as("c"))
      val p3 = pairs.select(col("a_id").as("a3"), col("b_id").as("c3"))
      val tri = p1.join(p2, col("b") === col("b2"))
        .join(p3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      deg.join(perNode, Seq("node"), "left_outer")
        .select(col("node").as("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("lcc_e6", expr(
          """CASE WHEN deg >= 2
               THEN (2 * n_tri * 1000000) div (deg * (deg - 1))
               ELSE 0 END"""))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)},
      e AS (SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
      deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
      tri AS (
        SELECT p1.a_id AS a, p1.b_id AS b, p2.b_id AS c
        FROM pairs p1 JOIN pairs p2 ON p1.b_id = p2.a_id
        JOIN pairs p3 ON p3.a_id = p1.a_id AND p3.b_id = p2.b_id),
      pern AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
          SELECT a AS node FROM tri
          UNION ALL SELECT b AS node FROM tri
          UNION ALL SELECT c AS node FROM tri) u
        GROUP BY 1)
      SELECT d.node AS doc_id, d.deg,
        COALESCE(p.n_tri, 0) AS n_tri,
        CASE WHEN d.deg >= 2
          THEN (2 * COALESCE(p.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
          ELSE 0 END AS lcc_e6
      FROM deg d LEFT JOIN pern p ON d.node = p.node"""))

  /** K-core peeling (Seidman 1983) on the verified near-dup graph:
    * repeatedly drop nodes whose degree among SURVIVORS falls below K=2,
    * eight unrolled rounds — the density member of the graph family
    * (components → membership, [[pagerank]] → centrality, [[triangles]]
    * → local cohesion, this → global density). The 2-core is the part of
    * a dup family that stays connected after pendant copies peel away:
    * chains and stars dissolve (every near-dup pair/star is pendant-
    * reducible), so a non-empty core flags REDUNDANTLY-linked template
    * clusters — the families where transitive collapse is safe without
    * [[pagerank]] adjudication.
    *
    * The round count is a plan constant (the [[pagerank]] argument): 8
    * peels stabilize these clique-with-bridges families (each peel
    * removes a full pendant layer); the OUTPUT is pinned as "the peeling
    * state after round 8" — in_core = alive, core_deg = the degree the
    * round-8 test used — identical on both engines whether or not the
    * fixpoint arrived. Scale shape: pair discovery dominates (measured:
    * triangles/pagerank); each peel is two node-keyed semi joins + one
    * dst-keyed count of (id, long) rows, checkpointed per round. */
  private val KCORE_K = 2
  private val kcore = QueryDef(
    "q_kcore",
    (s, d) => {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
        .localCheckpoint()
      // r16: `alive` is a lazy filter of the checkpointed degree state —
      // checkpointing it TOO ran a second eager materialization job per
      // peel for a view one predicate deep (isolated A/B: 1.08 → 0.9 s).
      val edges = pairs.union(pairs.select(col("b_id"), col("a_id")))
        .toDF("src", "dst").localCheckpoint()
      val nodes = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "node").localCheckpoint()
      var alive = nodes.select(col("node"))
      var lastDeg = nodes.select(col("node").as("dst"), col("deg").as("c"))
      for (_ <- 1 to 8) {
        lastDeg = edges
          .join(alive.withColumnRenamed("node", "s_"), col("src") === col("s_"))
          .join(alive.withColumnRenamed("node", "t_"), col("dst") === col("t_"))
          .groupBy(col("dst")).agg(count(lit(1)).as("c"))
          .localCheckpoint()
        alive = lastDeg.filter(col("c") >= KCORE_K).select(col("dst").as("node"))
      }
      nodes
        .join(lastDeg.select(col("dst").as("node"), col("c")), Seq("node"), "left_outer")
        .join(alive.withColumn("ic", lit(1)), Seq("node"), "left_outer")
        .select(col("node").as("doc_id"), col("deg"),
          col("ic").isNotNull.as("in_core"),
          when(col("ic").isNotNull, col("c")).otherwise(lit(0L)).as("core_deg"))
    },
    Some {
      val rounds = (1 to 8).map { k =>
        s"""d$k AS MATERIALIZED (
          SELECT e.dst AS node, CAST(COUNT(*) AS BIGINT) AS c
          FROM e JOIN a${k - 1} s ON e.src = s.node
            JOIN a${k - 1} t ON e.dst = t.node
          GROUP BY 1),
        a$k AS MATERIALIZED (SELECT node FROM d$k WHERE c >= $KCORE_K)"""
      }.mkString(",\n")
      s"""WITH ${pairsCteSql("documents", 0.5)},
        e AS MATERIALIZED (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
        nodes AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                  FROM e GROUP BY 1),
        a0 AS (SELECT node FROM nodes),
        $rounds
        SELECT n.node AS doc_id, n.deg,
          (a.node IS NOT NULL) AS in_core,
          CASE WHEN a.node IS NOT NULL THEN d.c ELSE 0 END AS core_deg
        FROM nodes n LEFT JOIN a8 a ON n.node = a.node
          LEFT JOIN d8 d ON n.node = d.node"""
    })

  /** Community detection on the verified near-dup graph via synchronous
    * pinned label propagation ([[GraphOps.labelPropagation]], Raghavan et
    * al. 2007). Where [[dedupClusters]]' connected components answer "what
    * is TRANSITIVELY linked" (one bridge edge merges two template families
    * into one component), LPA's mode rule keeps densely-linked families
    * separate — a bridge contributes one vote against a clique's many —
    * so the community grain is the per-template family a curation pass
    * dedups WITHIN, not the chain a single spurious pair created. Output:
    * each node's round-4 community plus that community's size (the
    * collapse-candidate count a canonical-pick stage would rank by).
    *
    * Scale shape: pair discovery (checkpointed once) dominates, as
    * measured for the rest of the graph family; each LPA round moves only
    * (id, id, count) triples keyed by node, and the argmax window is
    * PARTITIONED by node — never a global window. The community-size agg
    * keys on the label. */
  private val labelProp = QueryDef(
    "q_label_propagation",
    (s, d) => {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
        .localCheckpoint()
      val labels = GraphOps.labelPropagation(
        pairs.union(pairs.select(col("b_id"), col("a_id"))))
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
      labels.join(sizes, Seq("label"))
        .select(col("node").as("doc_id"), col("label").as("community"),
          col("csize"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)},
        e AS MATERIALIZED (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
        ${GraphOps.lpaCtesSql},
        sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
                  FROM l${GraphOps.LPA_ROUNDS} GROUP BY 1)
        SELECT l.node AS doc_id, l.label AS community, s.csize
        FROM l${GraphOps.LPA_ROUNDS} l JOIN sizes s USING (label)"""))

  /** Banding-parameter tuner for the [[NUM_HASHES]]-hash MinHash family:
    * for every power-of-two (bands, rows) split of the signature —
    * including the production (8, 4) — estimate, from the OBSERVED
    * pairwise Jaccard spectrum of a seeded bounded doc sample, the
    * expected recall over true pairs (J ≥ 0.5, the family threshold) and
    * the expected candidate mass (the verify-stage cost driver). The
    * S-curve p = 1 − (1 − J^r)^b is evaluated by REPEATED SQUARING only
    * (both r and b are powers of two), so the double arithmetic is a
    * pinned multiply chain both engines execute identically (pow()'s
    * ulp behavior is never invoked), then floor-e9 quantized per pair so
    * the sums are exact integers. The design-time complement to
    * [[dedupRecallCert]]: the cert certifies the CHOSEN banding's recall
    * against exhaustive truth; this ranks the ALTERNATIVES a retune
    * would consider, priced in expected candidates.
    *
    * Scale shape: one seeded-fold TakeOrderedAndProject over the corpus
    * (the determinized-sample discipline), then all work lives on the
    * bounded [[LSHT_N]]-doc sample: ~2k exact-Jaccard pairs × 4 combo
    * relations — constant at any corpus scale. Sampling the spectrum is
    * exactly how a 100 TB retune would estimate it. */
  private val LSHT_N = 64
  private val LSHT_COMBOS = Seq((2, 16), (4, 8), (8, 4), (16, 2))
  private def sqChain(e: String, times: Int): String =
    (1 to times).foldLeft(e)((acc, _) => s"(($acc) * ($acc))")
  private def catchProbExpr(r: Int, b: Int): String = {
    def log2(x: Int) = Integer.numberOfTrailingZeros(x)
    val jr = sqChain("j", log2(r))
    val qb = sqChain(s"(1.0 - $jr)", log2(b))
    s"CAST(FLOOR((1.0 - $qb) * 1e9) AS BIGINT)"
  }
  /** Convergence certificate for [[pagerank]]'s plan-constant 8-round
    * budget: the ∞-norm residual between rounds 7 and 8 and the count of
    * nodes still moving, as HASH-GATED numbers (the sketch-certification
    * pattern applied to the fixed-point claim "8 rounds bound the
    * residual below the e9 quantum on near-dup-family graphs" — which
    * q_pagerank's scaladoc asserts and this query measures). Same
    * recurrence, same edge source; output is one row of exact integers.
    *
    * Scale shape: identical to q_pagerank plus one co-partitioned
    * node-keyed join of the last two round states and a 1-row rollup. */
  private val pagerankResidual = QueryDef(
    "q_pagerank_residual",
    (s, d) => {
      val pairs = materializedPairs(s, d, 0.5).select(col("a_id"), col("b_id"))
        .localCheckpoint()
      GraphOps.integerPagerankResidual(
          pairs.union(pairs.select(col("b_id"), col("a_id"))))
        .agg(count(lit(1)).as("n_nodes"),
          max(abs(col("pr8") - col("pr7"))).as("max_resid"),
          sum(when(col("pr8") =!= col("pr7"), 1L).otherwise(0L)).as("n_moving"))
    },
    Some(s"""WITH ${pairsCteSql("documents", 0.5)},
        e AS MATERIALIZED (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
        ${GraphOps.pagerankCtesSql}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(MAX(ABS(a.pr - b.pr)) AS BIGINT) AS max_resid,
          CAST(SUM(CASE WHEN a.pr <> b.pr THEN 1 ELSE 0 END) AS BIGINT)
            AS n_moving
        FROM r8 a JOIN r7 b USING (node)"""))

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al. 2014 "Connected Components in MapReduce and Beyond") — the
    * at-scale ALTERNATIVE to [[clusterLabels]]' hash-to-min propagation.
    * Hash-to-min converges fast but its per-round shuffle carries every
    * node's full current neighbor set (growing with component size);
    * LS/SS moves exactly one (node, long) pair per adjacency entry per
    * round and provably converges in O(log n) alternations with
    * monotonically SHRINKING edge mass — the variant a 100 TB dup graph
    * with large components wants. Both steps are pinned deterministically
    * here: LS connects every strictly-larger neighbor of v to
    * m = min(Γ(v) ∪ {v}); SS orients each edge (hi, lo) and connects
    * every lo (≠ m) plus hi itself to m = min(lo's). The OUTPUT is the
    * edge set after [[CC_CYCLES]] (LS, SS) alternations — implementation-
    * pinned like the k-core round-8 state, oracle-replayed round by
    * round — which at the gate corpus's component diameters has provably
    * converged to (member, root) stars: the spec derives labels from it
    * and asserts equality with q_dedup_clusters' components, plus
    * fixpoint stability under one more alternation.
    *
    * Scale shape: pair discovery (checkpointed once) dominates, as for
    * the whole graph family; each LS/SS step is one node-keyed min
    * aggregate plus one equi join, all on (long, long) rows, per-step
    * localCheckpoint. */
  private[graft] val CC_CYCLES = 3
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("v"), col("b").as("u"))
      .union(e.select(col("b").as("v"), col("a").as("u")))
    val m = sym.groupBy(col("v")).agg(min(col("u")).as("mu"))
      .select(col("v"), least(col("mu"), col("v")).as("m"))
    sym.join(m, Seq("v")).filter(col("u") > col("v"))
      .select(col("u").as("a"), col("m").as("b")).distinct()
  }
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("a"), col("b")).as("hi"),
      least(col("a"), col("b")).as("lo"))
    val m = or.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    or.join(m, Seq("hi")).filter(col("lo") =!= col("m"))
      .select(col("lo").as("a"), col("m").as("b"))
      .union(m.select(col("hi").as("a"), col("m").as("b")))
      .distinct()
  }
  /** The (LS, SS)-alternated edge set, exposed for the spec layer. */
  private[graft] def ccStarsEdges(s: SparkSession, d: String): DataFrame = {
    var e = materializedPairs(s, d, 0.5)
      .select(col("a_id").as("a"), col("b_id").as("b")).localCheckpoint()
    for (_ <- 1 to CC_CYCLES) {
      e = largeStar(e).localCheckpoint()
      e = smallStar(e).localCheckpoint()
    }
    e
  }

  /** [[ccStarsEdges]] as a content-keyed persisted store (VERDICT r13
    * next #5): q_cc_stars and q_cc_ab both consume the converged LS/SS
    * edge set; without the store the A/B certificate re-ran all
    * [[CC_CYCLES]] alternations (6 label-chain rounds) that q_cc_stars
    * had just computed — the suite's slowest quiet query at 2.0 s.
    * Keyed like every shared store (corpus content + threshold variant),
    * so a regen rebuilds; at 100 TB this is the production shape — the
    * dup graph's converged stars are derived once and every consumer
    * (cluster report, A/B certification, keep-best) reads the relation. */
  private[graft] def ccStarsEdgesCached(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", CCSTARS_STORE, "#t=0.5")(
      ccStarsEdges(s, d))
  private val ccStars = QueryDef(
    "q_cc_stars",
    (s, d) => ccStarsEdgesCached(s, d)
      .select(least(col("a"), col("b")).as("a_id"),
        greatest(col("a"), col("b")).as("b_id"))
      .distinct(),
    Some {
      val rounds = (1 to CC_CYCLES).map { k =>
        val prev = if (k == 1) "e0" else s"e${k - 1}"
        s"""s${k}a AS (SELECT a AS v, b AS u FROM $prev
             UNION ALL SELECT b AS v, a AS u FROM $prev),
        m${k}a AS (SELECT v, LEAST(MIN(u), v) AS m FROM s${k}a GROUP BY v),
        e${k}ls AS MATERIALIZED (
          SELECT DISTINCT s.u AS a, m.m AS b
          FROM s${k}a s JOIN m${k}a m USING (v) WHERE s.u > s.v),
        s${k}b AS (SELECT GREATEST(a, b) AS hi, LEAST(a, b) AS lo FROM e${k}ls),
        m${k}b AS (SELECT hi, MIN(lo) AS m FROM s${k}b GROUP BY hi),
        e$k AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT s.lo AS a, m.m AS b FROM s${k}b s JOIN m${k}b m USING (hi)
            WHERE s.lo <> m.m
            UNION ALL SELECT hi AS a, m AS b FROM m${k}b))"""
      }.mkString(",\n")
      s"""WITH ${pairsCteSql("documents", 0.5)},
        e0 AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM pairs),
        $rounds
        SELECT DISTINCT LEAST(a, b) AS a_id, GREATEST(a, b) AS b_id
        FROM e$CC_CYCLES"""
    })

  /** A/B certification of the two connected-components algorithms as a
    * GATED row (VERDICT r11 stretch item): per node, the LS/SS star root
    * ([[ccStars]], Kiveris et al. 2014) next to the hash-to-min component
    * label ([[clusterLabels]]), with an integer `agree` flag. Both engines
    * compute both algorithms, so the oracle certifies not just each
    * algorithm's output but their INTERCHANGEABILITY on the gate corpus —
    * the claim behind routing either at 100 TB (LS/SS measured 2.5×
    * faster at 10×; hash-to-min converges in fewer rounds on
    * small-diameter graphs). A FULL join surfaces node-set mismatches as
    * rows with a NULL side and agree = 0 instead of silently dropping
    * them.
    *
    * Scale shape: both label relations ride the shared persisted stores
    * ([[materializedPairs]], [[clusterLabelsCached]]); the comparison
    * itself is one node-keyed join of two (long, long) relations. */
  private val ccAb = QueryDef(
    "q_cc_ab",
    (s, d) => {
      val stars = ccStarsEdgesCached(s, d)
        .select(least(col("a"), col("b")).as("root"),
          greatest(col("a"), col("b")).as("member"))
        .distinct()
      val lsss = stars.select(col("member").as("doc_id"), col("root").as("cc_root"))
        .union(stars.select(col("root").as("doc_id"), col("root").as("cc_root"))
          .distinct())
      val htm = clusterLabelsCached(s, d)
        .select(col("doc_id"), col("cluster_id").as("htm_root"))
      lsss.join(htm, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("cc_root"), col("htm_root"),
          when(col("cc_root") === col("htm_root"), 1L).otherwise(0L).as("agree"))
    },
    Some {
      val rounds = (1 to CC_CYCLES).map { k =>
        val prev = if (k == 1) "e0" else s"e${k - 1}"
        s"""s${k}a AS (SELECT a AS v, b AS u FROM $prev
             UNION ALL SELECT b AS v, a AS u FROM $prev),
        m${k}a AS (SELECT v, LEAST(MIN(u), v) AS m FROM s${k}a GROUP BY v),
        e${k}ls AS MATERIALIZED (
          SELECT DISTINCT s.u AS a, m.m AS b
          FROM s${k}a s JOIN m${k}a m USING (v) WHERE s.u > s.v),
        s${k}b AS (SELECT GREATEST(a, b) AS hi, LEAST(a, b) AS lo FROM e${k}ls),
        m${k}b AS (SELECT hi, MIN(lo) AS m FROM s${k}b GROUP BY hi),
        e$k AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT s.lo AS a, m.m AS b FROM s${k}b s JOIN m${k}b m USING (hi)
            WHERE s.lo <> m.m
            UNION ALL SELECT hi AS a, m AS b FROM m${k}b))"""
      }.mkString(",\n")
      s"""WITH RECURSIVE ${pairsCteSql("documents", 0.5)},
        e0 AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM pairs),
        $rounds,
        stars AS (SELECT DISTINCT LEAST(a, b) AS root, GREATEST(a, b) AS member
                  FROM e$CC_CYCLES),
        lsss AS (SELECT member AS doc_id, root AS cc_root FROM stars
                 UNION ALL SELECT DISTINCT root, root FROM stars),
        edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                  UNION SELECT b_id, a_id FROM pairs),
        reach(src, dst) AS (
          SELECT u, u FROM edges
          UNION
          SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
        htm AS (SELECT src AS doc_id, MIN(dst) AS htm_root FROM reach GROUP BY src)
        SELECT doc_id, l.cc_root, h.htm_root,
          CAST(CASE WHEN l.cc_root = h.htm_root THEN 1 ELSE 0 END AS BIGINT)
            AS agree
        FROM lsss l FULL JOIN htm h USING (doc_id)"""
    })

  /** Sorted-neighborhood dedup (Hernández & Stolfo 1995): the THIRD
    * classic blocking family next to the prefix-filter join
    * ([[verifiedPairs]]) and MinHash banding ([[minhashPairs]]) — sort
    * the corpus by a cheap collocating key (here document length, the
    * original paper's shape) and verify exact Jaccard only within a
    * sliding window of [[SN_W]] neighbors in that order. Candidate mass
    * is EXACTLY N·W by construction — the only blocking strategy whose
    * cost is corpus-linear independent of content skew (banding's dense
    * buckets, prefix-filtering's hot shingles), at the price of
    * key-quality-dependent recall: only pairs the sort key collocates are
    * visible. The registry's routing story gains a third regime escape:
    * when even sharded banding saturates, SN gives a hard O(N·W) floor.
    *
    * Scale shape: the global order is computed WITHOUT a global sort —
    * the repo's two-phase bucketed rank (bucket = n_chars div 64: a
    * driver-scale cumulative over bucket counts + an in-bucket
    * row_number PARTITIONED by bucket), then the W neighbor candidates
    * come from an explode + rank-keyed EQUI join, and verification
    * fetches shingle sets by doc id. Nothing ever passes through a
    * single-partition corpus-grain window. */
  private val SN_W = 8
  private val sortedNeighborhood = QueryDef(
    "q_dedup_sorted_neighborhood",
    (s, d) => {
      // Bucket at EXACT length: the offsets relation is #distinct lengths
      // (driver-scale at any corpus size) and the in-bucket window's hot
      // partition shrinks from a 64-char length band to identical-length
      // mass — the first 100x probe's 21.5 s straggler was one hot band's
      // sort. Checkpointed: the rank relation feeds both sides of the
      // window join and would otherwise recompute its exchange twice.
      val base = docs(s, d).select(col("doc_id"), col("n_chars"))
        .withColumn("bkt", col("n_chars"))
      val off = base.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("bkt"), col("off"))
      val ranked = base.join(broadcast(off), Seq("bkt"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("bkt"))
          .orderBy(col("n_chars"), col("doc_id"))))
        .select(col("doc_id"), (col("off") + col("rn")).cast("long").as("rk"))
        .localCheckpoint()
      val cands = ranked
        .select(col("doc_id").as("a_id"), col("rk"),
          explode(expr(s"sequence(1, $SN_W)")).as("k"))
        .withColumn("rk2", col("rk") + col("k"))
        .join(ranked.select(col("doc_id").as("b_id"), col("rk").as("rkb")),
          col("rk2") === col("rkb"))
        .select(col("a_id"), col("b_id"))
      val sh = materializedShingles(s, d)
      cands
        .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
        .withColumn("j", call_function("graft_jaccard", col("sa"), col("sb")))
        .filter(col("j") >= 0.5)
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"),
          floor(col("j") * 1e6).as("j_e6"))
    },
    Some(s"""WITH ${shingleCteSql("documents")},
      rk AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk
        FROM documents),
      cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM rk a JOIN rk b ON b.rk - a.rk BETWEEN 1 AND $SN_W),
      jv AS (
        SELECT c.a_id, c.b_id,
          len(list_intersect(x.shingles, y.shingles))::DOUBLE /
            nullif(x.n + y.n - len(list_intersect(x.shingles, y.shingles)), 0)
            AS jf
        FROM cand c JOIN sized x ON x.doc_id = c.a_id
          JOIN sized y ON y.doc_id = c.b_id)
      SELECT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id,
        CAST(FLOOR(jf * 1e6) AS BIGINT) AS j_e6
      FROM jv WHERE jf >= 0.5"""))

  private val lshTune = QueryDef(
    "q_lsh_tune",
    (s, d) => {
      // Recall side: the EXACT true-pair spectrum (J >= 0.5 from the
      // verified prefix-join discovery — the same certification-grain
      // dependency q_dedup_recall_cert carries). j is floor-e6 quantized
      // before re-widening so both engines feed the multiply chain the
      // identical double.
      val truth = materializedPairs(s, d, 0.5)
        .select((floor(col("j") * 1e6).cast("long").cast("double") / 1e6).as("j"))
        .localCheckpoint()
      // Candidate-cost side: the BACKGROUND spectrum of a seeded uniform
      // doc sample — over the SAME similarity the banding hashes (the
      // family's word-trigram shingle sets; unigram token-set Jaccard
      // saturates on a small shared vocabulary and would price the wrong
      // curve).
      val samp = docs(s, d)
        .withColumn("hx",
          md5(concat(lit("graft-lshtune-1:"), col("doc_id").cast("string"))))
        .withColumn("pri", expr(s"${Sampling.hexFold("hx")}"))
        .orderBy(col("pri"), col("doc_id")).limit(LSHT_N)
        .transform(withShingles)
        .select(col("doc_id"), col("shingles").as("ts"))
        .filter(size(col("ts")) >= 1)
        .localCheckpoint()
      val bg = samp.select(col("doc_id").as("a_id"), col("ts").as("ta"))
        .join(samp.select(col("doc_id").as("b_id"), col("ts").as("tb")),
          col("a_id") < col("b_id"))
        .select(size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
          (size(col("ta")) + size(col("tb"))).cast("long").as("szsum"))
        .select((col("inter").cast("double") /
          (col("szsum") - col("inter")).cast("double")).as("j"))
        .localCheckpoint()
      def perCombo(src: DataFrame): DataFrame =
        LSHT_COMBOS.map { case (b, r) =>
          src.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
            expr(catchProbExpr(r, b)).as("p_e9"))
        }.reduce(_ union _)
      val tagg = perCombo(truth).groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_true"), sum(col("p_e9")).as("exp_caught_e9"))
        .withColumn("recall_e6",
          expr("(exp_caught_e9 div greatest(n_true, 1)) div 1000"))
      val sagg = perCombo(bg).groupBy(col("bands"), col("rows_per_band"))
        .agg(sum(col("p_e9")).as("bg_cands_e9"))
      // LEFT join from the truth side (ADVICE r11): a tiny corpus whose
      // seeded sample yields <2 shingled docs has an EMPTY background
      // spectrum — the tuner must still rank the combos (bg cost 0 =
      // "no tuning data on the cost axis"), not silently return nothing.
      tagg.join(sagg, Seq("bands", "rows_per_band"), "left_outer")
        .select(col("bands"), col("rows_per_band"), col("n_true"),
          col("exp_caught_e9"), col("recall_e6"),
          coalesce(col("bg_cands_e9"), lit(0L)).as("bg_cands_e9"))
    },
    Some {
      def per(src: String) = LSHT_COMBOS.map { case (b, r) =>
        s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
          ${catchProbExpr(r, b)} AS p_e9 FROM $src"""
      }.mkString("\nUNION ALL\n")
      s"""WITH ${pairsCteSql("documents", 0.5)},
        tj AS MATERIALIZED (
          SELECT CAST(j_e6 AS DOUBLE) / 1e6 AS j FROM pairs),
        samp0 AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
              md5('graft-lshtune-1:' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents)
          ORDER BY (${Sampling.hexFold("hx")}), doc_id LIMIT $LSHT_N),
        samp AS MATERIALIZED (
          SELECT doc_id, ts FROM (
            SELECT doc_id,
              list_distinct([array_to_string(toks[i:i+2], ' ')
                for i in range(1, len(toks) - 1)]) AS ts
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM samp0))
          WHERE len(ts) >= 1),
        bg AS MATERIALIZED (
          SELECT CAST(CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS DOUBLE) /
            CAST(CAST(len(a.ts) + len(b.ts) AS BIGINT)
              - CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS DOUBLE) AS j
          FROM samp a JOIN samp b ON a.doc_id < b.doc_id),
        pert AS (${per("tj")}),
        persm AS (${per("bg")}),
        tagg AS (
          SELECT bands, rows_per_band, CAST(COUNT(*) AS BIGINT) AS n_true,
            CAST(SUM(p_e9) AS BIGINT) AS exp_caught_e9,
            (CAST(SUM(p_e9) AS BIGINT)
              // GREATEST(CAST(COUNT(*) AS BIGINT), 1)) // 1000 AS recall_e6
          FROM pert GROUP BY 1, 2),
        sagg AS (
          SELECT bands, rows_per_band, CAST(SUM(p_e9) AS BIGINT) AS bg_cands_e9
          FROM persm GROUP BY 1, 2)
        SELECT bands, rows_per_band, n_true, exp_caught_e9, recall_e6,
          COALESCE(bg_cands_e9, 0) AS bg_cands_e9
        FROM tagg LEFT JOIN sagg USING (bands, rows_per_band)"""
    })

  val all: Seq[QueryDef] =
    Seq(dedupExact, dedupNgram, dedupContainment, dedupMinhash,
      dedupRecallCert, dedupSimhash, dedupClusters, dedupReport, fuzzyJoin,
      dedupKeepBest, dedupCrossSource, dedupAuto, cdcDedup, winnow, pagerank,
      triangles, kcore, labelProp, lshTune, sortedNeighborhood, ccStars,
      pagerankResidual, ccAb)
}
