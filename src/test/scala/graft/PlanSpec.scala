package graft

/** Golden-plan layer (SURVEY §5 layer 2, reference `planner.rs:12-249`):
  * assertions on operator *classes* in the executed plan, not display
  * strings — Spark plan strings are version-fragile. These encode the
  * 100 TB scale contract: pushdown reaches the scan, small dims broadcast,
  * big joins shuffle, no accidental cartesian products, no global
  * single-partition windows.
  */
class PlanSpec extends SparkSpec {

  private def planString(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  // AQE wraps stages in leaf nodes — flatten through them (Coverage.scala
  // uses the same traversal for q_explain_analyze).
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flattenPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flattenPlan(q.plan)
    case _ => p +: p.children.flatMap(flattenPlan)
  }

  test("q_scan_project pushes the filter and prunes columns") {
    val p = planString("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_shipdate:timestamp"), p)
  }

  test("q_join_broadcast broadcasts the dims, never shuffles the fact side") {
    val p = planString("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    // The only exchange over customer data must be the final aggregation's,
    // not a join shuffle of the fact table.
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_inner is a co-partitioned join when neither side broadcasts") {
    // At sf0.001 Spark rightly broadcasts the small side; force the at-scale
    // shape (no broadcastable side) and assert it degrades to a shuffle
    // join on the key, never to a nested loop.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = planString("q_join_inner")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Exchange hashpartitioning(l_orderkey") ||
        p.contains("Exchange hashpartitioning(o_orderkey"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q_join_theta is the only nested-loop shape") {
    assert(planString("q_join_theta").contains("BroadcastNestedLoopJoin"))
    for (q <- Seq("q_join_inner", "q_join_left", "q_join_semi", "q_join_anti"))
      assert(!planString(q).contains("NestedLoopJoin"), s"$q degenerated to NLJ")
  }

  test("q_join_cross is the only cartesian shape among joins") {
    val p = planString("q_join_cross")
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no window runs without a partition spec") {
    // 'Window.orderBy' with no partitionBy funnels all rows to one task —
    // the round-1 scale bug. Every window query must partition.
    for (q <- Seq("q_window_rank", "q_window_ranking", "q_window_running_sum",
      "q_window_range", "q_window_lead_lag")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      import org.apache.spark.sql.execution.window.WindowExec
      plan.foreach {
        case w: WindowExec =>
          assert(w.partitionSpec.nonEmpty, s"$q has a global (unpartitioned) window")
        case _ => ()
      }
    }
  }

  test("q_repartition_hash contains an explicit hash exchange, reused by the agg") {
    val p = planString("q_repartition_hash")
    assert(p.contains("Exchange hashpartitioning(c_nationkey"), p)
  }

  test("q_topk compiles to TakeOrderedAndProject, not a global sort") {
    assert(planString("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q1_agg aggregates partially before the shuffle") {
    val p = planString("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p)
  }

  test("q_memory_scan keeps the literal relation local and broadcasts it") {
    val p = planString("q_memory_scan")
    assert(p.contains("LocalTableScan"), p)
  }

  test("TPC-H composites: broadcast dims, single fact shuffle, top-k without global sort") {
    val q3 = planString("q_tpch_q3")
    assert(q3.contains("BroadcastHashJoin"), q3)          // customer dim
    assert(q3.contains("TakeOrderedAndProject"), q3)      // LIMIT 10 top-k
    val q5 = planString("q_tpch_q5")
    assert(q5.contains("BroadcastHashJoin"), q5)          // nation/region
    assert(!q5.contains("CartesianProduct"), q5)
    val q10 = planString("q_tpch_q10")
    assert(q10.contains("TakeOrderedAndProject"), q10)
    // Returned-items filter must reach the lineitem scan.
    assert(q10.contains("EqualTo(l_returnflag,R)"), q10)
  }

  test("global sweep: no query plans a cartesian product or NLJ unless it IS one") {
    // q_ann_ivf's cross is queries x centroids — NQ x K literal-sized, the
    // intended probe-selection shape, never data x data. q_tpch_q22's is
    // the scalar-threshold broadcast: data x ONE row (the decorrelated
    // scalar subquery), O(n) compares — never data x data either.
    // q_gap_fill's cross is users x ONE bounds row (the day-spine
    // broadcast) — same scalar-broadcast shape as q22.
    // q_tpch_q11's, q_bm25_rank's and q_tfidf_keywords' crosses are the
    // same scalar-threshold broadcast as q22: data x ONE row (total /
    // avgdl / corpus size), O(n) compares.
    // q_lang_rebalance's cross is n_langs rows x ONE normalizing-total row;
    // q_perplexity_lm's is bigram types x ONE vocabulary-size row;
    // q_dedup_report's are one-row x one-row scalar combines;
    // q_snapshot_drift's is histogram buckets x ONE totals row (the same
    // scalar-broadcast shape as q22).
    // q_profile_quantiles' cross is the fact scan x THREE broadcast
    // (quantile, estimate) rows per column — the rank-certification pass,
    // O(n) compares against metadata, same class as q22.
    // q_sketch_cms_cert's cross is 20 probe rows x ONE stream-length row
    // (the eps*N bound's N) — the q22 scalar-broadcast shape again.
    // q_hybrid_retrieval: the semantic side broadcasts ONE query-vector
    // row against the corpus scan (the q22 scalar-broadcast shape) and
    // inherits q_bm25_rank's broadcast corpus-stats row on the lexical
    // side.
    // q_dsir_select's cross is <= 1024 bucket rows x ONE totals row (the
    // q22 scalar-broadcast shape; the corpus side only ever equi-joins
    // the broadcast weight table).
    // q_hard_negatives is the q_ann_brute shape: a 6-row broadcast anchor
    // set against the corpus scan under inequality predicates (<> id,
    // <> label) — O(n) map-side compares by construction, never data x
    // data.
    // q_ann_ivfpq inherits q_ann_ivf's probe-routing cross: NQ query
    // rows x K broadcast centroid METADATA rows (O(NQ*K), corpus-size-
    // independent); the corpus side only ever equi-joins on cell.
    // q_curriculum's crosses are the q22 scalar-broadcast shape twice:
    // corpus x ONE boundary-set row and x ONE totals row.
    // q_domain_mix's crosses are bigram types x ONE vocab-size row (the
    // q_perplexity_lm shape it shares) plus two source-grain x ONE-row
    // scalar combines; q_retrieval_eval's is a one-row x one-row metric
    // combine (the q_dedup_report shape) over its q_ann_ivf inheritance.
    // q_jl_project is the q_ann_brute shape: an NQ-row broadcast query
    // set against the corpus scan under <> id — O(NQ*n) map-side
    // compares by design (the certificate is deliberately exhaustive
    // per query vector), never data x data.
    // q_tokenizer_fertility's cross is per-lang rollup rows x ONE
    // english-baseline row — the q22 scalar-broadcast shape.
    // q_unigram_train's cross is vocab rows (≤74) x ONE count-total row
    // (the same q22 scalar-broadcast shape); the corpus never crosses.
    // q_repeat_allocation's crosses are (source × epoch) rows (≤40) x ONE
    // budget row and #sources rows x ONE total row — q22 shapes both; the
    // corpus collapses to #sources counts before any cross.
    // q_vocab_growth's NLJ is the doc/vocab scan x FOUR broadcast
    // threshold rows (fd < t / doc_id < t) — O(4n) map-side compares
    // against metadata, the q22 class with four rows instead of one.
    // q_kneser_ney's and q_pmi_collocations' crosses are bigram types x
    // ONE total row — exactly q_perplexity_lm's shape, which they share.
    // q_cluster_purity's crosses are all (cell x label)-grain metadata x
    // ONE totals row plus one-row x one-row metric combines — the
    // q_dedup_report shape over the shared quantizer assignment.
    // q_pagerank's cross is the node table x ONE node-count row (the
    // teleport base), the q22 scalar-broadcast shape; every per-round
    // join is an equi join on the node key. q_textrank inherits the same
    // shape through the shared integerPagerank helper (vocab-grain nodes).
    // q_calibration_ece's crosses are the corpus-narrow score relation x
    // ONE min/range row plus 10 bin rows x ONE ece row — q22 shapes both.
    // q_mmr_rerank's crosses live entirely on BOUNDED relations: the
    // corpus side is one broadcast-scalar cosine scan (the q_ann_brute
    // shape), then the 50-row checkpointed pool self-pairs under <> (50x50
    // constant); the greedy rounds are driver arithmetic on that bounded
    // pull since r13 — corpus-size-independent by construction.
    // q_pca_power's cross is the 64-row direction relation x ONE
    // normalization-max row (the q22 scalar-broadcast shape); the corpus
    // passes are map-side folds against literal vectors, never joined.
    // q_self_bleu's non-equi joins live on the BOUNDED 16-doc seeded
    // sample (16x15 length pairs; the gram clip join is equi on
    // (n, gram)) — the corpus contributes one TakeOrdered sample only.
    // q_lsh_tune's non-equi self-join lives on the BOUNDED 64-doc seeded
    // sample (~2k pairs, constant at any corpus scale); the true-pair
    // side reuses the equi-keyed verified-pairs discovery.
    // q_pca_deflate inherits q_pca_power's crosses (64-row relation x
    // ONE normalization/projection row — q22 shapes); the corpus passes
    // are map-side folds, never joined.
    val allowed = Set("q_join_cross", "q_join_theta", "q_ann_brute", "q_ann_ivf",
      "q_tpch_q22", "q_tpch_q11", "q_gap_fill", "q_outlier_filter", "q_bm25_rank",
      "q_tfidf_keywords", "q_lang_rebalance", "q_perplexity_lm", "q_dedup_report",
      "q_snapshot_drift", "q_profile_quantiles", "q_sketch_cms_cert",
      "q_hybrid_retrieval", "q_dsir_select", "q_hard_negatives",
      "q_ann_ivfpq", "q_curriculum", "q_domain_mix", "q_retrieval_eval",
      "q_jl_project", "q_tokenizer_fertility", "q_unigram_train",
      "q_repeat_allocation", "q_vocab_growth", "q_kneser_ney",
      "q_pmi_collocations", "q_pagerank", "q_textrank", "q_cluster_purity",
      "q_calibration_ece", "q_mmr_rerank", "q_pca_power", "q_self_bleu",
      "q_lsh_tune", "q_pca_deflate", "q_pca_variance")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !allowed(name) && name != "q_running_jobs" && name != "q_cluster_nodes") {
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a nested-loop join")
    }
  }

  test("event ops plan scale-safe: as-of join has no join, range join stays equi") {
    // The as-of join is the union + running-last window — there must be NO
    // join operator anywhere (the naive v.ts <= p.ts formulation would be
    // a BroadcastNestedLoopJoin), and every window must be partitioned.
    val asof = planString("q_asof_join")
    assert(!asof.contains("Join"), s"as-of join planned an actual join:\n$asof")
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_asof_join", "q_sessionize")) {
      SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.foreach {
        case w: WindowExec =>
          assert(w.partitionSpec.nonEmpty, s"$q has a global (unpartitioned) window")
        case _ => ()
      }
    }
    // The banded range join must execute as an equi join on the time
    // bucket (hash or broadcast), with the exact |Δ|<=60s predicate as a
    // residual — never a nested loop over the raw interval predicate.
    val range = planString("q_range_join")
    assert(range.contains("BroadcastHashJoin") || range.contains("SortMergeJoin") ||
      range.contains("ShuffledHashJoin"), s"range join is not an equi join:\n$range")
  }

  test("q_asof_chunked bounds its window buffers: chunk-grain keys, one event shuffle") {
    // The chunked as-of form exists so no window buffers a user's WHOLE
    // timeline: the event-grain window must partition by (user_id, chunk)
    // — a monster user splits across span/chunk tasks — and the only
    // per-user window runs at chunk grain (rows per user = active chunks).
    // The carry join must be a hash join (big side already partitioned on
    // the join key); the carry aggregate must map-side combine (partial
    // max_by below its exchange), so the RAW event stream — the union —
    // feeds exactly one shuffle: everything else exchanges chunk-grain
    // rows.
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_asof_chunked")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val windows = flattenPlan(plan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in:\n$plan")
    assert(windows.exists(_.partitionSpec.size == 2),
      s"event-grain window lost its chunk key (whole-timeline buffer):\n$plan")
    // The carry join is deliberately UN-hinted (a forced SHUFFLE_HASH
    // build OOMed at the 100x probe — the carry side approaches event
    // grain for sparse users). The contract that holds at every scale:
    // an equi join (never a nested loop), whose event-grain side arrives
    // already partitioned and sorted — no Sort and no Exchange may appear
    // between the window and the join.
    val p = plan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"carry join degenerated:\n$p")
    assert(p.contains("partial_max_by"),
      s"carry aggregate lost its map-side combine:\n$p")
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val joins = flattenPlan(plan).collect { case j: BaseJoinExec => j }
    assert(joins.size == 1, s"expected one carry join:\n$plan")
    def cleanToWindow(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n match {
        case _: WindowExec => true
        case _: SortExec => false
        case _: ShuffleExchangeExec => false
        case other if other.children.size == 1 => cleanToWindow(other.children.head)
        case _ => false
      }
    assert(cleanToWindow(joins.head.left),
      s"event-grain side re-sorted or re-shuffled above its window:\n$plan")
    // An exchange carries raw event-grain rows iff a Union is reachable
    // below it without crossing another exchange or an aggregate (both
    // reduce to chunk grain before the wire).
    def rawFeed(node: org.apache.spark.sql.execution.SparkPlan): Boolean =
      node match {
        case _: ShuffleExchangeExec => false
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
        case _: UnionExec => true
        case other => other.children.exists(rawFeed)
      }
    val rawStreamExchanges = flattenPlan(plan)
      .collect { case ex: ShuffleExchangeExec => ex }
      .filter(ex => rawFeed(ex.child))
    assert(rawStreamExchanges.size == 1,
      s"event-grain rows cross ${rawStreamExchanges.size} exchanges (want 1):\n$plan")
  }

  test("q_sessionize_chunked keeps its event-grain windows chunk-keyed") {
    // Same bounded-buffer contract as q_asof_chunked: if `chunk` is ever
    // dropped from the stage-1 window keys the query degenerates to the
    // plain whole-timeline form — row-parity tests still pass (results
    // are identical), so only the plan can catch it. An event-grain
    // window is one that reaches the scan without crossing an aggregate
    // (stage 3 runs at session grain, above the stage-2 aggregate, and
    // is allowed its per-user key).
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("q_sessionize_chunked")(spark, sfDir)
      .queryExecution.executedPlan
    def eventGrain(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n match {
        case _: BaseAggregateExec => false
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case other => other.children.exists(eventGrain)
      }
    val windows = flattenPlan(plan).collect { case w: WindowExec => w }
    val raw = windows.filter(w => eventGrain(w.child))
    assert(raw.nonEmpty, s"no event-grain window found:\n$plan")
    assert(raw.forall(_.partitionSpec.size == 2),
      s"an event-grain window lost its chunk key (whole-timeline buffer):\n$plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in:\n$plan")
  }

  test("q_subquery_exists_or plans an ExistenceJoin (MARK join), not a semi join") {
    // Under a disjunction the EXISTS must become a mark column — the
    // reference's MARK join (datafusion_common.proto:84-90). A plain
    // EXISTS (q_subquery_exists) correctly degenerates to LeftSemi.
    val p = planString("q_subquery_exists_or")
    assert(p.contains("ExistenceJoin"), s"no ExistenceJoin in:\n$p")
    assert(planString("q_subquery_exists").contains("LeftSemi"))
  }

  test("q_subquery_not_in plans a null-aware anti join, not a plain anti") {
    // NOT IN over a nullable key needs three-valued logic; Catalyst's
    // BroadcastHashJoinExec carries it as the isNullAwareAntiJoin flag
    // (prints only as a bare trailing `true`, so assert on the node).
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = SparkEntry.queries("q_subquery_not_in")(spark, sfDir)
      .queryExecution.executedPlan
    val naaj = flattenPlan(plan).collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty, s"no null-aware anti join in:\n$plan")
  }

  test("q_sink_partitioned prunes partition directories at the scan") {
    val p = planString("q_sink_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p)
    assert(p.contains("= 1995)"), p)
  }

  test("round-4 additions keep their scale-contract plans") {
    // Q21's two-level distinct must not plan Catalyst's Expand (which
    // would double the pre-shuffle stream).
    assert(!planString("q_tpch_q21").contains("Expand"), "q21 expanded")
    // The funnel is chained co-partitioned aggregates + SHUFFLE_HASH
    // threshold joins over ONE reused user_id exchange (round-8 probe:
    // chained whole-partition windows buffer a user's whole timeline in
    // WindowExec per stage — a spill cliff on an extreme user; un-hinted
    // joins missed the broadcast estimate and double-sorted the stream
    // via SortMergeJoin). Contract: no sort, no window, hash joins only,
    // and at runtime the three stream consumers collapse onto one
    // physical shuffle (two ReusedExchange nodes).
    val funnel = planString("q_funnel")
    assert(!funnel.contains("Sort"), s"funnel sorts:\n$funnel")
    assert(!funnel.contains("Window"), s"funnel windows again:\n$funnel")
    assert(funnel.contains("ShuffledHashJoin") && !funnel.contains("SortMergeJoin") &&
      !funnel.contains("NestedLoop"), s"funnel join shape wrong:\n$funnel")
    val fdf = SparkEntry.queries("q_funnel")(spark, sfDir)
    fdf.collect()
    val ffinal = fdf.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(ffinal).size == 2,
      s"stream exchange not reused across funnel stages:\n$ffinal")
    // Quantization is a pure per-row map: no exchange anywhere.
    assert(!planString("q_embed_quantize").contains("Exchange"), "quantize shuffled")
    // session_window aggregates partially before its single exchange.
    val sw = planString("q_session_window")
    assert("Exchange hashpartitioning".r.findAllIn(sw).size == 1, sw)
    // Shard shuffle: ONE hash exchange on the shard key, per-shard sort
    // only — a global sort would serialize the whole corpus at scale.
    val sh = planString("q_shard_shuffle")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(sh).size == 1, sh)
    assert(!sh.contains("Exchange rangepartitioning"),
      s"shard shuffle plans a global sort:\n$sh")
  }

  test("round-5 TPC-H completions keep their scale-contract plans") {
    // Q2: the supply catalog is aggregated exactly once (one lineitem
    // scan), the correlated min is a PARTITIONED window, and the final
    // pick is a top-k — no second catalog pass, no global sort.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def lineitemScans(name: String): Int =
      flattenPlan(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => f
      }.size
    val q2 = planString("q_tpch_q2")
    assert(lineitemScans("q_tpch_q2") == 1, s"q2 scans lineitem more than once:\n$q2")
    assert(q2.contains("Window"), q2)
    assert(q2.contains("TakeOrderedAndProject"), q2)
    SparkEntry.queries("q_tpch_q2")(spark, sfDir).queryExecution.executedPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty, "q2 has a global (unpartitioned) window")
      case _ => ()
    }
    // Q21: still no Expand, and the single-pass rewrite means ONE
    // lineitem scan (the round-4 shape joined the fact twice).
    val q21 = planString("q_tpch_q21")
    assert(!q21.contains("Expand"), "q21 expanded")
    assert(lineitemScans("q_tpch_q21") == 1,
      s"q21 scans lineitem more than once:\n$q21")
    // Q16's distinct count must not expand either (single distinct agg).
    assert(!planString("q_tpch_q16").contains("Expand"), "q16 expanded")
    // Q20's qualifier is a semi join — the supplier dimension must never
    // inflate through an inner join against the flow rows.
    assert(planString("q_tpch_q20").contains("LeftSemi"), "q20 lost its semi join")
  }

  test("golden plan traits for all 22 TPC-H queries") {
    // Per-query scale contract, encoded as operator-class traits (not
    // display strings): how many times the fact table may be scanned,
    // whether LIMIT compiles to a distributed top-k, whether dims
    // broadcast, and the global invariants — no cartesian product, no
    // nested loop except the sanctioned one-row scalar broadcasts
    // (q11/q22 thresholds), no Expand, every window partitioned.
    // liMax = 2 only where the second pass is the scalar-threshold /
    // max-revenue side over the AGGREGATED relation (q11, q15) — the
    // textbook shape; every other query touches lineitem at most once.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    final case class Golden(liMax: Int, topK: Boolean, broadcasts: Boolean,
      scalarBnlj: Boolean = false)
    val golden = Map(
      "q1_agg" -> Golden(1, topK = false, broadcasts = false),
      "q_tpch_q2" -> Golden(1, topK = true, broadcasts = true),
      "q_tpch_q3" -> Golden(1, topK = true, broadcasts = true),
      "q_tpch_q4" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q5" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q6" -> Golden(1, topK = false, broadcasts = false),
      "q_tpch_q7" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q8" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q9" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q10" -> Golden(1, topK = true, broadcasts = true),
      "q_tpch_q11" -> Golden(2, topK = false, broadcasts = true, scalarBnlj = true),
      "q_tpch_q12" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q13" -> Golden(0, topK = false, broadcasts = true),
      "q_tpch_q14" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q15" -> Golden(2, topK = false, broadcasts = true),
      "q_tpch_q16" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q17" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q18" -> Golden(1, topK = true, broadcasts = true),
      "q_tpch_q19" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q20" -> Golden(1, topK = false, broadcasts = true),
      "q_tpch_q21" -> Golden(1, topK = true, broadcasts = true),
      "q_tpch_q22" -> Golden(0, topK = false, broadcasts = true, scalarBnlj = true))
    for ((name, g) <- golden.toSeq.sortBy(_._1)) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
      val flat = flattenPlan(plan)
      val liScans = flat.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => f
      }.size
      val s = plan.toString
      assert(liScans <= g.liMax,
        s"$name scans lineitem $liScans times (golden max ${g.liMax})")
      assert(s.contains("TakeOrderedAndProject") == g.topK,
        s"$name top-k mismatch (golden ${g.topK})")
      if (g.broadcasts)
        assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
          s"$name plans no broadcast for its dims")
      assert(!s.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!g.scalarBnlj)
        assert(!s.contains("BroadcastNestedLoopJoin"), s"$name degenerated to NLJ")
      assert(!s.contains("Expand"), s"$name plans Expand on the fact stream")
      flat.collect { case w: WindowExec => w }.foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"$name has a global (unpartitioned) window"))
    }
  }

  test("join hints select the hinted physical strategy") {
    import org.apache.spark.sql.functions.col
    val l = Tables.t(spark, sfDir, "lineitem").select(col("l_orderkey"))
    val o = Tables.t(spark, sfDir, "orders").select(col("o_orderkey"))
    def planWith(hint: String) =
      l.hint(hint).join(o, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planWith("broadcast").contains("BroadcastHashJoin"))
    assert(planWith("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planWith("merge").contains("SortMergeJoin"))
  }

  test("runtime Bloom-filter pruning injects might_contain on the fact scan") {
    // Spark's runtime row-level filter: the selective dimension side
    // builds a bloom filter that is pushed into the fact side's scan —
    // the shuffle-reduction optimizer surface at 100 TB. Thresholds are
    // lowered so the tiny spec corpus qualifies.
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // default 10GB: the fact side must look big enough to be worth filtering
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = Tables.t(spark, sfDir, "lineitem")
      val o = Tables.t(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val joined = l.join(o,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom"),
        s"no runtime bloom filter injected:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q_dedup_incremental: the fingerprint store contributes zero exchange") {
    // The store is a fingerprint-bucketed external table: with broadcast
    // off (the 100 TB regime — a historical store outgrows any executor),
    // the join must shuffle ONLY the new batch; the store side reads its
    // buckets in place.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = SparkEntry.queries("q_dedup_incremental")(spark, sfDir)
        .queryExecution.executedPlan
      val flat = flattenPlan(plan)
      def isStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("graft-fp-store"))
        case _ => false
      }
      val storeScans = flat.filter(isStoreScan)
        .map(_.asInstanceOf[FileSourceScanExec])
      assert(storeScans.nonEmpty, "store must be read through its bucketed table")
      assert(storeScans.forall(_.bucketedScan),
        "store scan must use its bucketing")
      // The join's store-side child subtree must hold no exchange (the
      // aggregate above the join shuffles on lang — that one is fine).
      val storeSides = flat.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.children.filter(c => flattenPlan(c).exists(isStoreScan))
      }.flatten
      assert(storeSides.nonEmpty, "no join over the store found")
      storeSides.foreach { side =>
        assert(!flattenPlan(side).exists {
          case _: ShuffleExchangeExec => true
          case _ => false
        }, s"the store side must not shuffle:\n$side")
      }
      // The batch side does shuffle (it must co-locate with the buckets).
      assert(flat.exists {
        case _: ShuffleExchangeExec => true
        case _ => false
      })
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q_ann_incremental: the band store contributes zero exchange") {
    // Vector analog of the fingerprint-store contract above: with
    // broadcast off, the batch probe join must shuffle ONLY the batch's
    // band rows; the historical corpus reads its bsig buckets in place.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = SparkEntry.queries("q_ann_incremental")(spark, sfDir)
        .queryExecution.executedPlan
      val flat = flattenPlan(plan)
      def isStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("graft-ann-store"))
        case _ => false
      }
      val storeScans = flat.filter(isStoreScan)
        .map(_.asInstanceOf[FileSourceScanExec])
      assert(storeScans.nonEmpty, "store must be read through its bucketed table")
      assert(storeScans.forall(_.bucketedScan),
        "store scan must use its bucketing")
      // Only the PROBE join's store side (the subtree that reaches the
      // store scan without crossing an aggregate): the later dup-count
      // join also contains the scan transitively, behind its distinct's
      // legitimate shuffle.
      val storeSides = flat.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.children.filter(c => flattenPlan(c).exists(isStoreScan) &&
            !flattenPlan(c).exists {
              case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
              case _ => false
            })
      }.flatten
      assert(storeSides.nonEmpty, "no probe join over the store found")
      storeSides.foreach { side =>
        assert(!flattenPlan(side).exists {
          case _: ShuffleExchangeExec => true
          case _ => false
        }, s"the store side must not shuffle:\n$side")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed tables co-locate the join: no exchange at all") {
    // The write-side answer to repeated 100 TB joins: bucket both fact
    // tables on the join key and the shuffle disappears from every
    // subsequent join. (In-memory catalog; bucket info lives in the
    // session catalog like a metastore would hold it.)
    import org.apache.spark.sql.functions._
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.t(spark, sfDir, "orders")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      Tables.t(spark, sfDir, "lineitem")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderstatus"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("round-8 continuation ops keep scale-shaped plans") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // q_snapshot_diff: ONE equi join, and both join inputs are reduced to
    // (doc_id, digest) before the wire — document text must never shuffle.
    val diffPlan = SparkEntry.queries("q_snapshot_diff")(spark, sfDir)
      .queryExecution.executedPlan
    val diffJoins = flattenPlan(diffPlan).collect { case j: BaseJoinExec => j }
    assert(diffJoins.size == 1, s"snapshot diff wants one join:\n$diffPlan")
    for (side <- Seq(diffJoins.head.left, diffJoins.head.right))
      assert(side.output.size <= 2,
        s"join input carries ${side.output.map(_.name)} — text leaked into the shuffle:\n$diffPlan")
    // q_phash_dedup + q_dedup_semantic: banded/clustered candidates only —
    // never a nested loop or cartesian over the corpus.
    for (q <- Seq("q_phash_dedup", "q_dedup_semantic")) {
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop:\n$p")
    }
    // q_fuzzy_join: the survivor-dedup must run over DISTINCT keys (the
    // exact-key collapse), never doc ids — its output is the verified
    // key pair with its distance (r14: dedup moved AFTER the τ-bounded
    // levenshtein, so `dist` rides the grouping; still key-grain).
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val fuzzyPlan = SparkEntry.queries("q_fuzzy_join")(spark, sfDir)
      .queryExecution.executedPlan
    val distincts = flattenPlan(fuzzyPlan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty &&
        a.aggregateExpressions.isEmpty => a }
    assert(distincts.exists(_.output.map(_.name).toSet == Set("ka", "kb", "dist")),
      s"fuzzy pair-dedup not over collapsed keys:\n$fuzzyPlan")
  }

  test("within-doc repetition gates plan no keyed exchange (kernel, not explode-groupBy)") {
    // Every gram of a document derives from the document's own row, so
    // neither gate may hash-shuffle gram rows: the only exchange allowed
    // is spreadForRowCpu's deliberate round-robin CPU spread. The native
    // kernels (graft_gopher_stats / graft_gram_profile) must appear in
    // the projection — a regression to the interpreted HOF or the
    // explode form would drop them.
    for ((q, fn) <- Seq("q_quality_gopher" -> "graft_gopher_stats",
        "q_quality_repetition" -> "graft_gram_profile")) {
      val p = planString(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q hash-shuffles partition-local gram facts:\n$p")
      assert(p.contains(fn), s"$q lost its native kernel $fn:\n$p")
    }
  }

  test("q_domain_mix reads the bigram store: no in-query corpus explode") {
    // VERDICT r11 "what's wrong" #3 asked for exchange reuse over the
    // bigram explode; r12 went one stronger — the (source, prev, cur)
    // aggregate is the shared content-keyed bigram STORE, so the corpus
    // explode must not appear in the query plan AT ALL (zero Generate
    // nodes): both consumers (LM cost chain + per-domain rollup) scan the
    // vocab-bound store parquet.
    val df = SparkEntry.queries("q_domain_mix")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"corpus bigram explode leaked back into the query plan:\n$plan")
  }

  test("PlanDump renders the final adaptive plan of the run it made") {
    val qe = PlanDump.executed(spark, sfDir, "q_tpch_q9")
    val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!spark.sparkContext.isStopped)
    assert(PlanDump.condensed(qe).exists(_.contains("Exchange")), plan)
  }
}
