package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe for the dedup family (SCALE.md evidence): generate two
  * corpora with the IDENTICAL deterministic process at 1x and 10x size
  * (so the measured growth isolates the scaling law, not generator
  * drift), run each dedup query on both, and report wall seconds, output
  * rows, and total shuffle read+write bytes per query.
  *
  * The generator mimics the driver corpus's observable shape (vocab and
  * empirical token frequencies, empirical length distribution, lang mix,
  * all sampled from the given source dir) and plants near-duplicate pairs
  * at a fixed per-doc rate (a 5%-token perturbation of an earlier doc,
  * J ~ 0.9), so true-pair volume grows linearly with corpus size — the
  * property the banded candidate strategies must track without
  * quadratic candidate blowup.
  *
  * Usage: runMain graft.ScaleProbe <srcSfDir> <workDir> [queries...]
  *
  * Named queries (SparkEntry or probe-only builders below) narrow a run to
  * them, for iterating on one operator's scaling law without paying for
  * the whole family; an unknown name aborts.
  */
object ScaleProbe {
  private val probeQueries = Seq("q_dedup_exact", "q_dedup_ngram",
    "q_dedup_containment", "q_dedup_minhash", "q_dedup_simhash",
    "q_substring_dedup", "q_dedup_clusters", "q_fuzzy_join",
    "q_fuzzy_cands_r8", "q_fuzzy_cands_r9", "q_fuzzy_cands_suppressed",
    "q_phash_dedup", "q_snapshot_diff", "q_snapshot_drift",
    "q_dedup_keep_best_uncached")

  /** Similarity family, probed over generated embeddings (same 1x/10x
    * protocol): brute force is the exact O(NQ*N) floor, LSH is the scale
    * path whose candidate volume must track corpus size linearly, and
    * embedding near-dup must track the (linearly planted) true-pair
    * volume. */
  private val simQueries = Seq("q_ann_brute", "q_ann_lsh", "q_dedup_embedding",
    "q_ann_incremental", "q_dedup_semantic", "q_dedup_semantic_adaptive_k",
    "q_ann_ivf", "q_ann_ivfpq")

  /** Probe-only builders beyond the SparkEntry registry. The adaptive-K
    * semantic dedup scales the cluster count as k = sqrt(N) — the point
    * where assignment work (N·k·D) and pair work (N·(N/k)·D) balance —
    * so the probe can contrast it with the gated fixed-K=8 plan, whose
    * per-cluster pair work is quadratic in corpus size by construction. */
  private val extraBuilders: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_dedup_semantic_adaptive_k" -> ((s, dir) => {
        // k = sqrt(N): assignment work N·k·D and pair work N·(N/k)·D are
        // both minimized where they balance, at k = sqrt(N) — k = N/m
        // (mean size held constant) leaves assignment quadratic, k fixed
        // leaves pairs quadratic.
        // corpusSize is content-token cached AND pre-warmed right after
        // generation (below) — a bare count() here would schedule an extra
        // job inside the timed probe wall, inflating the adaptive-k
        // variant's measured runtime vs the fixed-k plan it contrasts.
        // Same k rule as the gated q_dedup_semantic_adaptive.
        pipeline.Similarity.dedupSemanticPlan(s, dir,
          pipeline.Similarity.adaptiveSemK(pipeline.Similarity.corpusSize(s, dir)))
      }),
      // A/B of the fuzzy join's candidate stage on one corpus: the r8
      // form (±τ=3 shift window, no multi-match suppression) vs the r9
      // form (equal-length ±1 window + first-match suppression). The
      // probe's observed row count IS the candidate count.
      "q_fuzzy_cands_r8" -> ((s, dir) =>
        pipeline.Dedup.fuzzyCandidates(s, dir, shiftW = 3)),
      "q_fuzzy_cands_r9" -> ((s, dir) =>
        pipeline.Dedup.fuzzyCandidates(s, dir)),
      "q_fuzzy_cands_suppressed" -> ((s, dir) =>
        pipeline.Dedup.fuzzyCandidates(s, dir, suppress = true)),
      // The probe must measure the label PROPAGATION, not the result
      // cache: clusterLabelsCached would serve the warm1x run's persisted
      // parquet to the timed g1x pass while g10x (never warmed) pays the
      // full multi-round computation — inflating the scaling ratio.
      "q_dedup_clusters" -> ((s, dir) =>
        pipeline.Dedup.clusterLabels(s, dir)),
      // Same isolation for the survivor-selection consumer of the labels.
      "q_dedup_keep_best_uncached" -> ((s, dir) =>
        pipeline.Dedup.keepBestFrom(s, dir,
          pipeline.Dedup.clusterLabels(s, dir))),
      // Chunk-width variants of the bounded-buffer event rewrites: the
      // hot-user probe contrasts them with the 1-day default — narrower
      // chunks cut the monster user's per-window buffer further at the
      // cost of more seam rows.
      // The graph family's 100 TB edge source: the SAME pinned PageRank
      // over recall-certified MinHash-banded pairs instead of the exact
      // prefix-join pairs. The exact path is the ORACLE-complete gate
      // answer; at the third decade of the resampled saturated corpus its
      // candidate stage exceeds single-node disk (measured — see SCALE.md),
      // which is exactly the regime the banded discovery + grid routing
      // exist for. Banding recall is certified once (q_dedup_recall_cert),
      // so the edge swap is the documented production trade.
      // minhashPairsSharded, not minhashPairs: the plain banding's first
      // probe put a 168 s verify task on ONE saturated bucket at 10x
      // (the resampled corpus's dense-vocab regime) — which is the exact
      // signal the grid-decision registry routes on; the probe builder
      // takes the routed strategy directly.
      "q_pagerank_banded" -> ((s, dir) => {
        val pairs = pipeline.Dedup.minhashPairsSharded(s, dir)
          .select(col("a_id"), col("b_id")).localCheckpoint()
        pipeline.GraphOps.integerPagerank(
            pairs.union(pairs.select(col("b_id"), col("a_id"))))
          .select(col("node").as("doc_id"), col("deg"), col("pr").as("pr_e9"))
      }),
      // The same routed edge source under the COMMUNITY grain: LPA's mode
      // rounds over recall-certified banded pairs — the 100 TB path for
      // q_label_propagation, as q_pagerank_banded is for q_pagerank.
      "q_lpa_banded" -> ((s, dir) => {
        val pairs = pipeline.Dedup.minhashPairsSharded(s, dir)
          .select(col("a_id"), col("b_id")).localCheckpoint()
        pipeline.GraphOps.labelPropagation(
            pairs.union(pairs.select(col("b_id"), col("a_id"))))
          .select(col("node").as("doc_id"), col("label").as("community"))
      }),
      "q_asof_chunked_6h" -> ((s, dir) =>
        operators.EventOps.asofChunkedPlan(s, dir, 6L * 3600 * 1000 * 1000 * 1000)),
      "q_sessionize_chunked_6h" -> ((s, dir) =>
        operators.EventOps.sessionizeChunkedPlan(s, dir, 6L * 3600 * 1000 * 1000 * 1000)))

  /** Heavy text-analysis stages (token-keyed shuffles with map-side
    * combine + broadcast model state): expected ~linear — the probe
    * verifies none hides a dictionary- or pair-quadratic term. */
  private val textQueries = Seq("q_tfidf_keywords", "q_bm25_rank",
    "q_boilerplate_ngrams", "q_decontaminate", "q_perplexity_lm")

  /** The event-ops family: argued scale-safe since round 6 (one user_id
    * exchange, windows inside partitions, banded equi joins, no theta
    * join) but never probed — VERDICT r7 #8. The generator grows the USER
    * axis (10x users, same per-user density), the realistic growth
    * direction, so wall/shuffle should track ~linearly and maxTask should
    * stay flat; a planted hot user carrying 1% of all events watches for
    * per-user buffering (it caught the chained-window funnel straggling —
    * see the q_funnel scaladoc). */
  private val eventQueries = Seq("q_asof_join", "q_asof_tolerance",
    "q_asof_chunked", "q_funnel",
    "q_sessionize", "q_sessionize_chunked", "q_range_join", "q_cohort_retention", "q_session_window",
    "q_gap_fill", "q_hopping_window", "q_hopping_window_approx")

  /** Round-9 additions (VERDICT r10 list #6 — no decade entries yet).
    * Measured AFTER the dedup family with their own warm pass, because
    * their scale claim is MARGINAL cost over the amortized content-keyed
    * stores (shingle index; the cluster-label store
    * q_split_leakage_safe joins) — a cold run would re-measure the store
    * builds the family probes already cover. q_audio_fingerprint has no
    * store (decode is the cost); it rides the same warm pass for JIT
    * parity with its family's methodology. */
  private val lateQueries = Seq("q_dedup_cross_source", "q_split_leakage_safe",
    "q_audio_fingerprint")

  /** Round-11 additions: all compute-from-scratch (no persisted store to
    * amortize), so they ride the plain family protocol. Expected laws:
    * gopher/dsir/bpe are corpus-scan-bound (linear wall, doc- or
    * token-keyed shuffles only); bpe's merge rounds are vocab-bound, so
    * its wall should grow SLOWER than the corpus (the scan dominates);
    * hybrid/hard-negatives are one broadcast-scalar pass over vectors
    * plus LIMIT-bounded rank windows (linear, near-zero shuffle). */
  private val r11Queries = Seq("q_quality_gopher", "q_hybrid_retrieval",
    "q_bpe_train", "q_bpe_encode", "q_dsir_select", "q_hard_negatives",
    "q_quality_auc", "q_cdc_dedup",
    // Second r11 batch. Expected laws: domain_mix is bigram-mass-bound
    // (linear wall, bigram-vocab-grain shuffles that grow SUB-linearly as
    // the vocab saturates); fertility rides bpe_encode (linear scan +
    // vocab-bound training rounds); jl_project and retrieval_eval are
    // NQ×N map-side pair scans (linear, near-zero shuffle).
    "q_domain_mix", "q_tokenizer_fertility", "q_jl_project",
    "q_retrieval_eval",
    // Curriculum rides q_perplexity_lm's scan law; its own machinery
    // (score-grain agg -> bucket cumulative -> broadcast phase CASE)
    // moves <= distinct-score rows, so the expected marginal is ~zero.
    "q_curriculum",
    // Third r11 batch. Expected laws: unigram train mirrors bpe_train
    // (one corpus scan into the vocab-bound word table; all EM rounds are
    // per-row DP folds + a <=V-key exchange, so SUB-linear wall); encode
    // mirrors bpe_encode (linear scan + broadcast dictionary);
    // repeat_allocation is scan-bound (corpus collapses map-side to
    // #sources counts; the allocation runs on <=40 rows) — near-flat.
    "q_unigram_train", "q_unigram_encode", "q_repeat_allocation",
    // Fourth r11 batch. q_dedup_incremental/q_dedup_bloom run as an A/B:
    // same exact answer over the same content-keyed fp store, so at the
    // decade the pair MEASURES the bloom prefilter's shuffle reduction
    // (batch rows shed before the store join) rather than asserting it.
    // ccnet rides perplexity's scan law plus distinct-score-grain
    // cumulative machinery (~zero marginal); distinct_ngrams is one
    // (source, gram)-keyed exchange — linear in gram mass, the
    // vocab/tfidf law.
    "q_dedup_incremental", "q_dedup_bloom", "q_ccnet_buckets",
    "q_distinct_ngrams",
    // Fifth r11 batch. wordpiece_train should reproduce bpe_train's
    // sub-flat vocab-bound law (same loop; the likelihood pick adds one
    // <=vocab-key aggregate per round); vocab_growth is one token-keyed
    // min(doc_id) exchange + a map-side per-doc count — the vocab/oov
    // law, with the 4-row window adding nothing.
    "q_wordpiece_train", "q_vocab_growth",
    // span corruption is a pure map stage (the chunk_documents law):
    // every output column derives from the row; expect linear wall in
    // token mass, zero shuffle.
    "q_span_corrupt",
    // Sixth r11 batch. kneser_ney rides the perplexity law exactly (same
    // instance shuffle; the discount adds vocab-grain folds only);
    // silhouette is a map-side pass against the literal centroid tensor
    // (train-once shared with IVF — warmed below) plus a K-row rollup, so
    // near-linear wall with ~zero shuffle; pagerank's verified-pair build
    // dominates (the dedup_ngram law) and each of the 8 rounds moves only
    // (node, long) pairs — edge-mass-bound, linear in planted pair volume.
    "q_kneser_ney", "q_silhouette", "q_pagerank",
    // winnowing is map-only fingerprint selection (~2/(W+1) of gram mass
    // survives) + fingerprint-keyed exchanges — expect the cdc_dedup law:
    // linear wall in token mass, shuffle linear in (sparse) fp mass.
    "q_winnow_fingerprint",
    // triangle_count pays one pair discovery (the pagerank/ngram law) +
    // wedge/close equi joins bounded by oriented wedge mass; pmi rides
    // the perplexity instance exchange with vocab-grain margins and a
    // bounded top-50 — expect kneser_ney's ratio.
    "q_triangle_count", "q_pmi_collocations",
    // zipf is one token-keyed count exchange + a bounded top-1000 — the
    // vocab/oov law; expect near-flat (type table saturates).
    "q_zipf_slope",
    // textrank's graph is vocab-grain (bigram TYPES), so past the one
    // instance exchange the 8 rounds are corpus-size-independent —
    // expect the pmi law (near-flat).
    "q_textrank",
    // kcore pays one pair discovery + 8 peels of (id, long) semi joins —
    // expect the pagerank law (shuffle == pair discovery).
    "q_kcore",
    // k_anonymity is ONE QI-keyed aggregate with map-side combine and
    // bounded output grain — expect linear scan wall, ~zero shuffle.
    "q_k_anonymity",
    // cluster_purity rides the shared-quantizer assignment (map-side
    // tensor pass, warmed with silhouette/ivf) + (cell x label)-grain
    // metadata — expect the silhouette law (near-flat, ~zero shuffle).
    "q_cluster_purity",
    // the banded-edge pagerank (probe-only builder): same rounds, edge
    // discovery swapped to minhash banding — the 100 TB path; expect the
    // minhash law instead of the ngram law.
    "q_pagerank_banded", "q_lpa_banded",
    // Seventh r11 batch. label_propagation pays the pagerank pair
    // discovery + 4 mode rounds of (id, id, count) triples — expect the
    // pagerank law (shuffle == pair discovery); calibration_ece rides the
    // gopher HOF CPU law (its label input) with one 10-row bin exchange;
    // mmr_rerank is one broadcast-scalar cosine scan + constant 50-row
    // rounds — expect the ann_brute law (linear scan wall, ~zero
    // shuffle); pca_power is 16 map passes over the checkpointed
    // quantized matrix + 64-row dim aggregates — linear scan wall, ~zero
    // shuffle, corpus-size-independent round structure.
    "q_label_propagation", "q_calibration_ece", "q_mmr_rerank",
    "q_pca_power",
    // self_bleu: one seeded TakeOrdered over the corpus, then a constant
    // 16-doc metric — expect the mmr law (near-flat); lsh_tune: the
    // verified-pairs discovery dominates its recall side (the
    // pagerank/ngram law), the sampled background side is constant.
    "q_self_bleu", "q_lsh_tune",
    // semantic_outliers rides the shared quantizer's map-side tensor pass
    // (train-once, warmed with ivf) + a bounded TakeOrdered — expect the
    // silhouette law (near-flat, ~zero shuffle).
    "q_semantic_outliers",
    // pagerank_residual = pagerank + one co-partitioned join (its law);
    // pca_deflate = 2x pca_power's round structure — expect ~2x its
    // flat wall with the same ~zero shuffle.
    "q_pagerank_residual", "q_pca_deflate",
    // pca_variance adds two wq scans over the checkpointed matrix to the
    // shared driver-pull chains — expect the pca_deflate law (~flat).
    "q_pca_variance",
    // l_diversity is two map-side-combined aggregates on bounded grains —
    // expect the k_anonymity law (linear scan, ~zero shuffle).
    "q_l_diversity",
    // sorted-neighborhood: candidate mass is N*W by construction — expect
    // linear wall, shuffle linear in N (rank pairs + shingle fetch),
    // immune to the dense-bucket regimes banding hits.
    "q_dedup_sorted_neighborhood",
    // LS/SS components vs hash-to-min (q_dedup_clusters probes the
    // uncached propagation above): both pay the same pair discovery;
    // the A/B isolates the round structure — LS/SS rounds move one
    // (long, long) row per adjacency entry with shrinking edge mass.
    "q_cc_stars")

  def main(args: Array[String]): Unit = {
    val (srcDir, workDir) = (args(0), args(1))
    val only = SparkEntry.select(SparkEntry.queries.keys ++ extraBuilders.keys,
      args.drop(2).toSeq).toSet
    def keep(qs: Seq[String]): Seq[String] = qs.filter(only)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // --- instrumented run ----------------------------------------------
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    // Longest single task per query — the straggler witness: a balanced
    // plan's max task stays far below the query wall even as data grows.
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    // Per-stage breakdown (SPARK_GRAFT_PROBE_STAGES=1): shuffle bytes,
    // max task, task count, and the stage's callsite — turns a bad
    // query-level number into a pointer at the guilty exchange.
    val stageDetail = sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1")
    case class StageAgg(var bytes: Long = 0, var maxMs: Long = 0,
        var tasks: Int = 0, var name: String = "")
    val stages = scala.collection.concurrent.TrieMap.empty[Int, StageAgg]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val sb = Option(t.taskMetrics).map(m =>
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
          .getOrElse(0L)
        shuffleBytes.addAndGet(sb)
        val dur = Option(t.taskInfo).map(_.duration).getOrElse(0L)
        maxTaskMs.getAndUpdate(x => math.max(x, dur))
        if (stageDetail) {
          val agg = stages.getOrElseUpdate(t.stageId, StageAgg())
          agg.synchronized {
            agg.bytes += sb; agg.maxMs = math.max(agg.maxMs, dur); agg.tasks += 1
          }
        }
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageDetail) {
          val agg = stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg())
          agg.synchronized {
            agg.name = s.stageInfo.name.linesIterator.next().take(90)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // Each query runs through the noop SINK, not count(): count() lets
    // Catalyst prune every column nothing consumes — for the window-over-
    // union event ops that deletes the window (and its exchange) outright,
    // so the probe would time an empty shell (observed: q_asof_join with
    // 0 shuffle bytes). The noop write materializes every output column,
    // matching what Bench times; the row count rides along as an
    // observe() metric on the same single pass.
    var probeSeq = 0
    def run(dir: String, label: String,
        queries: Seq[String] = probeQueries): Seq[(String, Double, Long, Long, Long)] =
      keep(queries).map { name =>
        // fresh shingle-index per corpus is intended: it is part of the cost
        shuffleBytes.set(0)
        maxTaskMs.set(0)
        stages.clear()
        probeSeq += 1
        val obs = org.apache.spark.sql.Observation(s"probe_rows_$probeSeq")
        val t0 = System.nanoTime()
        extraBuilders.getOrElse(name, SparkEntry.queries(name))(spark, dir)
          .observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        // Stop the clock BEFORE Observation.get: metrics arrive on the
        // async listener bus, and its drain latency (hundreds of ms under
        // this probe's own task-event load) must not land in the wall.
        val sec = (System.nanoTime() - t0) / 1e9
        val cnt = obs.get("rows").asInstanceOf[Long]
        Thread.sleep(500) // drain listener events
        val sb = shuffleBytes.get()
        val mt = maxTaskMs.get()
        println(f"PROBE $label $name%-20s wall=$sec%8.2fs rows=$cnt%8d " +
          f"shuffleMB=${sb / 1e6}%10.1f maxTaskMs=$mt%8d")
        if (stageDetail)
          stages.toSeq.sortBy(-_._2.bytes).take(8).foreach { case (id, a) =>
            println(f"  STAGE $id%5d shuffleMB=${a.bytes / 1e6}%10.1f " +
              f"maxTaskMs=${a.maxMs}%8d tasks=${a.tasks}%5d ${a.name}")
          }
        (name, sec, cnt, sb, mt)
      }

    val n1 = 5000
    CorpusGen.documents(spark, srcDir, n1, s"$workDir/g1x")
    CorpusGen.documents(spark, srcDir, n1 * 10, s"$workDir/g10x")
    val e1 = 2000 // the sf0.1 embeddings row count
    CorpusGen.embeddings(spark, e1, s"$workDir/g1x")
    CorpusGen.embeddings(spark, e1 * 10, s"$workDir/g10x")
    // Pre-warm the corpus-size cache for every embeddings corpus OUTSIDE
    // any timed wall: g10x/g100x get no warm pass, so the adaptive-k
    // builder's first N lookup would otherwise run a count job inside its
    // timed run.
    pipeline.Similarity.corpusSize(spark, s"$workDir/g1x")
    pipeline.Similarity.corpusSize(spark, s"$workDir/g10x")
    val u1 = 20000 // users at 1x; events = users x empirical per-user mean
    CorpusGen.events(spark, srcDir, u1, s"$workDir/g1x")
    CorpusGen.events(spark, srcDir, u1 * 10, s"$workDir/g10x")
    println(s"generated g1x=$n1 docs/$e1 vecs, g10x=${n1 * 10} docs/${e1 * 10} vecs, " +
      s"events for $u1/${u1 * 10} users")
    run(s"$workDir/g1x", "warm1x") // warmup (JIT, codegen)
    run(s"$workDir/g1x", "warm1x", simQueries)
    run(s"$workDir/g1x", "warm1x", textQueries)
    run(s"$workDir/g1x", "warm1x", eventQueries)
    run(s"$workDir/g1x", "warm1x", r11Queries)
    // Targeted g10x warm for the train-once / build-once operators only:
    // their steady-state claim is "the timed query serves from the
    // persisted/cached artifact" (IVF centroids per (corpus, k); the
    // snapshot-B release store), and g10x gets no family-wide warm pass —
    // without this their one-time build lands inside the single timed 10x
    // wall, the corpusSize defect this round fixed, in new clothes. The
    // dedup family's shingle index deliberately stays UNwarmed (its build
    // is declared part of the measured cost — see run()'s comment).
    run(s"$workDir/g10x", "warm10x",
      Seq("q_ann_ivf", "q_ann_ivfpq", "q_snapshot_diff", "q_snapshot_drift",
        // builds the shared bucketed fp store once, so the timed
        // incremental-vs-bloom A/B measures the JOIN plans, not the
        // one-time store write (same train-once discipline as IVF)
        "q_dedup_incremental",
        // train the same k=16 coarse quantizer q_ann_ivf shares; listed
        // separately so a narrowed silhouette/purity run
        // still gets its centroids warmed at the decade
        "q_silhouette", "q_cluster_purity",
        // r12 content-keyed trainer/score stores (the same train-once
        // claim): one BPE train, one unigram EM run, one LM-score +
        // quality-label build per corpus — the timed consumers measure
        // their own encode/rollup stages, not the shared build
        "q_bpe_train", "q_unigram_train", "q_perplexity_lm",
        "q_quality_auc", "q_pca_power"))
    val r1 = {
      val fams = run(s"$workDir/g1x", "g1x") ++
        run(s"$workDir/g1x", "g1x", simQueries) ++
        run(s"$workDir/g1x", "g1x", textQueries) ++
        run(s"$workDir/g1x", "g1x", eventQueries) ++
        run(s"$workDir/g1x", "g1x", r11Queries)
      run(s"$workDir/g1x", "warmlate1x", lateQueries)
      fams ++ run(s"$workDir/g1x", "g1x", lateQueries)
    }
    val r10 = {
      val fams = run(s"$workDir/g10x", "g10x") ++
        run(s"$workDir/g10x", "g10x", simQueries) ++
        run(s"$workDir/g10x", "g10x", textQueries) ++
        run(s"$workDir/g10x", "g10x", eventQueries) ++
        run(s"$workDir/g10x", "g10x", r11Queries)
      run(s"$workDir/g10x", "warmlate10x", lateQueries)
      fams ++ run(s"$workDir/g10x", "g10x", lateQueries)
    }
    println("name, wall_1x, wall_10x, ratio, rows_1x, rows_10x, shuffleMB_1x, shuffleMB_10x")
    r1.zip(r10).foreach { case ((n, s1, c1, b1, _), (_, s10, c10, b10, _)) =>
      println(f"SUMMARY $n%-20s ${s1}%8.2f ${s10}%8.2f ${s10 / s1}%6.2fx " +
        f"$c1%8d $c10%8d ${b1 / 1e6}%10.1f ${b10 / 1e6}%10.1f")
    }

    // --- third decade (SPARK_GRAFT_PROBE_100X=1): 500k docs / 200k vecs —
    // the scale-path families only. Shuffle bytes are the load-robust
    // metric; maxTask is the straggler witness.
    if (sys.env.get("SPARK_GRAFT_PROBE_100X").contains("1")) {
      val decaDocs = Seq("q_dedup_minhash", "q_dedup_ngram", "q_dedup_clusters",
        "q_phash_dedup", "q_tfidf_keywords", "q_bm25_rank", "q_decontaminate",
        "q_quality_gopher", "q_dsir_select", "q_bpe_train",
        // r11 second session: winnow carries the map-only fingerprint law
        // to the third decade; kneser must reproduce perplexity's
        // vocab-saturation there; textrank's claim is the strong one —
        // corpus-size-INDEPENDENT rounds, so 100x should stay near-flat
        // past the one instance exchange.
        "q_winnow_fingerprint", "q_kneser_ney", "q_textrank",
        // the graph trio at the third decade: all three are dominated by
        // the one verified-pair discovery (the ngram 100x law); the
        // marginal claims are (id, long)-only round traffic (pagerank,
        // kcore) and wedge-bounded closes (triangles).
        "q_pagerank_banded",
        // r11 third session: sorted-neighborhood's claim is the strong one
        // at the third decade — its N*W candidate bound must survive the
        // 500k-doc corpus where the exact prefix-join discovery dies
        // (the measured wall in item 43) and banding needs shard routing.
        "q_dedup_sorted_neighborhood")
      val decaSim = Seq("q_dedup_embedding", "q_dedup_semantic_adaptive_k",
        "q_ann_ivf", "q_hybrid_retrieval", "q_hard_negatives",
        // pca_power at 200k vecs: the 16 map passes leave probe-overhead
        // grain and must show the linear scan law with flat shuffle.
        "q_pca_power")
      // asof + funnel carry the event family's scale claims; 100x = 2M
      // users (~133M events), generated distributed (the generator is
      // pure Spark expressions, so the third decade costs no driver
      // memory, unlike the doc corpus).
      val decaEvents = Seq("q_asof_join", "q_asof_chunked", "q_funnel",
        "q_sessionize", "q_sessionize_chunked")
      // Generate only the corpora a kept query will read — a narrowed
      // run must not pay the 500k-doc driver-side build.
      // hybrid lives in decaSim (vector-side law) but reads documents too
      if (keep(decaDocs ++ lateQueries ++ Seq("q_hybrid_retrieval")).nonEmpty)
        CorpusGen.documents(spark, srcDir, n1 * 100, s"$workDir/g100x")
      if (keep(decaSim).nonEmpty) {
        CorpusGen.embeddings(spark, e1 * 100, s"$workDir/g100x")
        pipeline.Similarity.corpusSize(spark, s"$workDir/g100x")
      }
      if (keep(decaEvents).nonEmpty)
        CorpusGen.events(spark, srcDir, u1 * 100, s"$workDir/g100x")
      println(s"generated g100x (docs/vecs/events as kept)")
      // Train-once warm for IVF (same rationale as warm10x above): its
      // coarse-quantizer training is one-time per (corpus, k) and must
      // not land inside the single timed 100x wall. The r12 content-keyed
      // trainer/chain stores join for the same reason — without them the
      // third-decade ratio compares a store-warm 10x marginal against a
      // cold 100x build (a methodology artifact, not a law).
      run(s"$workDir/g100x", "warm100x",
        Seq("q_ann_ivf", "q_bpe_train", "q_unigram_train",
          "q_perplexity_lm", "q_quality_auc", "q_pca_power"))
      val r100 = {
        val fams = run(s"$workDir/g100x", "g100x", decaDocs) ++
          run(s"$workDir/g100x", "g100x", decaSim) ++
          run(s"$workDir/g100x", "g100x", decaEvents)
        if (keep(lateQueries).nonEmpty) {
          // Same amortized-store discipline as the 1x/10x late runs.
          run(s"$workDir/g100x", "warmlate100x", lateQueries)
          fams ++ run(s"$workDir/g100x", "g100x", lateQueries)
        } else fams
      }
      val by10 = r10.map(r => r._1 -> r).toMap
      println("name, wall_10x, wall_100x, ratio, shuffleMB_10x, shuffleMB_100x, shuffle_ratio, maxTask_100x_ms")
      r100.foreach { case (n, s100, _, b100, mt100) =>
        by10.get(n).foreach { case (_, s10, _, b10, _) =>
          println(f"SUMMARY100 $n%-20s ${s10}%8.2f ${s100}%8.2f ${s100 / s10}%6.2fx " +
            f"${b10 / 1e6}%10.1f ${b100 / 1e6}%10.1f ${b100.toDouble / b10}%6.2fx $mt100%8d")
        }
      }
    }
    // --- pathological single-user corpus (SPARK_GRAFT_PROBE_HOTUSER=1):
    // one user carries 30% of all events — the honest stress NOTES_r08
    // named for the per-user window-buffer residual. The plain as-of
    // buffers the hot user's whole timeline in one task (maxTask grows
    // with the user); the chunked form's window key is (user, day-chunk),
    // so its maxTask should stay near the uniform corpus's numbers.
    if (sys.env.get("SPARK_GRAFT_PROBE_HOTUSER").contains("1")) {
      val hotQs = Seq("q_asof_join", "q_asof_chunked", "q_asof_chunked_6h",
        "q_sessionize", "q_sessionize_chunked", "q_sessionize_chunked_6h")
      // Same rule as the 100x block: a narrowed run must not pay the
      // 13M-event generate+write for an empty table.
      if (keep(hotQs).nonEmpty) {
        CorpusGen.events(spark, srcDir, u1 * 10, s"$workDir/ghot", hot = (30, 100))
        println(s"generated ghot: ${u1 * 10} users, user 0 carrying ~30% of events")
        run(s"$workDir/ghot", "warmhot", hotQs)
        val rh = run(s"$workDir/ghot", "ghot", hotQs)
        println("name, wall, shuffleMB, maxTaskMs (hot-user corpus)")
        rh.foreach { case (n, sec, _, b, mt) =>
          println(f"SUMMARYHOT $n%-20s ${sec}%8.2f ${b / 1e6}%10.1f $mt%8d")
        }
      }
    }
    spark.stop()
  }
}
