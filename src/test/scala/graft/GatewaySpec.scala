package graft

import scala.concurrent.duration._
import graft.gateway.{GatewayConfig, JobRuntime, JobStatus}

/** Lifecycle + fault layer (SURVEY §5 layers 2-3; reference
  * `tests/exception.rs:13-118`, `event.rs:22-454`): submit → tickets →
  * fetch → completion cleanup; TTL expiry; never-fetched timeout;
  * cancellation; UDF failure isolation.
  */
class GatewaySpec extends SparkSpec {

  private def withRuntime[A](cfg: GatewayConfig = GatewayConfig())(f: JobRuntime => A): A = {
    val rt = new JobRuntime(spark, cfg)
    try f(rt) finally rt.close()
  }

  test("submit -> tickets -> fetch -> completion cleanup") {
    withRuntime() { rt =>
      val h = rt.submit(
        "SELECT id, id * 2 AS twice FROM range(0, 1000, 1, 4)")
      assert(h.tickets.size == 4)
      assert(rt.liveJobIds == Set(h.jobId))
      val rows = h.fetchAll()
      assert(rows.size == 1000)
      assert(rows.map(_.getLong(1)).sum == (0L until 1000L).map(_ * 2).sum)
      // All tickets delivered => job completed and cleaned (running_jobs
      // empty, the slt corpus's closing assertion, sqllogictest.rs:17-22).
      assert(h.status == JobStatus.Completed)
      assert(rt.liveJobIds.isEmpty)
      assert(rt.runningJobs().count() == 0)
    }
  }

  test("a ticket can be re-fetched (fresh recompute from the cached stage)") {
    withRuntime() { rt =>
      val h = rt.submit("SELECT id FROM range(0, 100, 1, 2)")
      val first = h.fetch(h.tickets.head)
      val again = h.fetch(h.tickets.head)
      assert(first.map(_.getLong(0)) == again.map(_.getLong(0)))
    }
  }

  test("running_jobs is SQL-queryable with the reference schema") {
    withRuntime() { rt =>
      rt.submit("SELECT 1", Map("kind" -> "probe"))
      rt.registerRunningJobsView()
      val df = spark.sql(
        "SELECT job_id, created_at, job_meta, stages FROM running_jobs")
      assert(df.columns.toSeq == Seq("job_id", "created_at", "job_meta", "stages"))
      assert(df.count() == 1)
      assert(df.collect().head.getString(2).contains("\"kind\": \"probe\""))
    }
  }

  test("running_jobs view refreshes on every scan without re-registration") {
    // Reference RunningJobsTable.scan re-reads the registry per scan
    // (table.rs:43-60): one registered view, three scans, three different
    // registry states observed.
    withRuntime() { rt =>
      rt.registerRunningJobsView()
      assert(spark.sql("SELECT count(*) FROM running_jobs").collect().head.getLong(0) == 0L)
      val h = rt.submit("SELECT 1 AS one", Map("kind" -> "probe"))
      val mid = spark.sql("SELECT job_id, job_meta FROM running_jobs").collect()
      assert(mid.length == 1 && mid.head.getString(0) == h.jobId, mid.toSeq)
      assert(mid.head.getString(1).contains("\"kind\": \"probe\""))
      h.cancel()
      assert(spark.sql("SELECT count(*) FROM running_jobs").collect().head.getLong(0) == 0L)
    }
  }

  test("never-fetched jobs are garbage-collected (stage0_task_poll_timeout)") {
    withRuntime(GatewayConfig(neverFetchedTimeout = 300.millis,
      ttlCheckInterval = 100.millis)) { rt =>
      val h = rt.submit("SELECT 1")
      assert(rt.liveJobIds.nonEmpty)
      val deadline = System.currentTimeMillis() + 5000
      while (rt.liveJobIds.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(rt.liveJobIds.isEmpty, "never-fetched job was not swept")
      assert(h.status == JobStatus.Cancelled)
    }
  }

  test("job TTL expiry cleans up even a fetched-but-unfinished job") {
    withRuntime(GatewayConfig(jobTtl = 300.millis, ttlCheckInterval = 100.millis,
      neverFetchedTimeout = 10.seconds)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 10, 1, 2)")
      h.fetch(h.tickets.head) // fetched once, second partition never pulled
      val deadline = System.currentTimeMillis() + 5000
      while (rt.liveJobIds.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(rt.liveJobIds.isEmpty, "expired job was not swept")
    }
  }

  test("a large-partition fetch is delivered in bounded pages, never whole") {
    // The reference streams a partition as backpressured Arrow batches
    // through a capacity-2 channel (dist/src/runtime.rs:253-303); the
    // analog contract here: no single page job ever returns more than
    // fetchPageSize rows, however large the partition.
    withRuntime(GatewayConfig(fetchPageSize = 1000)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 100000, 1, 1)") // 1 partition, 100k rows
      val stream = h.fetchStream(h.tickets.head)
      try {
        var n = 0L
        var expected = 0L
        var ordered = true
        stream.foreach { r => ordered &&= r.getLong(0) == expected; expected += 1; n += 1 }
        assert(n == 100000L)
        assert(ordered, "rows arrived out of order")
      } finally stream.close()
      assert(h.maxPageRows <= 1000L,
        s"a page held ${h.maxPageRows} rows on the driver (> fetchPageSize)")
      assert(h.maxPageRows > 0L)
      assert(h.status == JobStatus.Completed) // full drain marks the ticket delivered
    }
  }

  test("concurrent bounded-page streams drain independently and correctly") {
    // The reference serves many tickets at once, each through its own
    // bounded channel; the analog contract: N simultaneous consumers, one
    // per partition ticket, each sees its partition complete, in order,
    // and no page ever exceeds fetchPageSize — however the consumer
    // threads interleave.
    withRuntime(GatewayConfig(fetchPageSize = 500)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 80000, 1, 8)") // 8 partitions
      val tickets = h.tickets
      assert(tickets.size == 8)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tickets.size)
      try {
        val futs = tickets.map { t =>
          pool.submit(new java.util.concurrent.Callable[(Long, Long, Boolean)] {
            def call(): (Long, Long, Boolean) = {
              val s = h.fetchStream(t)
              try {
                var n = 0L; var sum = 0L; var inOrder = true; var prev = Long.MinValue
                s.foreach { r =>
                  val v = r.getLong(0)
                  inOrder &&= v > prev; prev = v; sum += v; n += 1
                }
                (n, sum, inOrder)
              } finally s.close()
            }
          })
        }
        val res = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(res.map(_._1).sum == 80000L, s"row counts: ${res.map(_._1)}")
        assert(res.map(_._2).sum == (0L until 80000L).sum, "row VALUES were crossed between streams")
        assert(res.forall(_._3), "a stream delivered its partition out of order")
        assert(h.maxPageRows <= 500L,
          s"a page held ${h.maxPageRows} rows on the driver under concurrency")
        assert(h.status == JobStatus.Completed)
      } finally { pool.shutdownNow(); () }
    }
  }

  test("paged delivery touches each base row exactly once (no quadratic prefix re-scan)") {
    // Page k is it.drop(k).next() over cached pre-built page arrays — O(k)
    // array references. A per-page it.slice(lo, hi) would re-touch the
    // whole prefix: 100 pages over 10k rows ≈ 505k row touches instead of
    // 10k. The accumulator on the base rows is the row-touch counter.
    withRuntime(GatewayConfig(fetchPageSize = 100)) { rt =>
      val acc = spark.sparkContext.longAccumulator("graft-row-touches")
      val base = spark.range(0, 10000, 1, 1).toDF("id")
      val touched = base.rdd.map { r => acc.add(1); r }
      val df = spark.createDataFrame(touched, base.schema)
      val h = rt.submitDataFrame(df)
      val rows = h.fetchAll() // 100 pages through the bounded stream
      assert(rows.size == 10000)
      assert(rows.map(_.getLong(0)) == (0L until 10000L))
      assert(acc.value == 10000L,
        s"base rows touched ${acc.value} times draining 100 pages (prefix re-scan)")
      assert(h.maxPageRows <= 100L)
    }
  }

  test("a mid-stream cache recompute fails loudly; the ticket stays re-fetchable") {
    // If a cached result block is lost and recomputed, a post-shuffle
    // partition's row order is not guaranteed stable — offset pages could
    // silently duplicate or drop boundary rows. The stream detects the new
    // computation token and throws instead.
    withRuntime(GatewayConfig(fetchPageSize = 100)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 10000, 1, 1)")
      val s = h.fetchStream(h.tickets.head)
      val firstFew = s.take(150).map(_.getLong(0)).toVector // crosses page 0→1
      assert(firstFew == (0L until 150L).toVector)
      h.simulateBlockLoss()
      val e = intercept[gateway.PartitionRecomputeException] {
        while (s.hasNext) s.next()
      }
      assert(e.getMessage.contains("recomputed"))
      s.close()
      // Recoverable: job still live, a fresh fetch is self-consistent.
      assert(rt.liveJobIds.contains(h.jobId))
      val full = h.fetch(h.tickets.head)
      assert(full.size == 10000)
      assert(h.status == JobStatus.Completed)
    }
  }

  test("an abandoned stream leaves the ticket re-fetchable") {
    withRuntime(GatewayConfig(fetchPageSize = 100)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 10000, 1, 1)")
      val s1 = h.fetchStream(h.tickets.head)
      val firstFew = s1.take(50).map(_.getLong(0)).toVector
      s1.close() // abandon mid-partition: nothing marked delivered
      assert(firstFew == (0L until 50L).toVector)
      assert(rt.liveJobIds.contains(h.jobId))
      val full = h.fetch(h.tickets.head) // fresh re-fetch from the cached RDD
      assert(full.size == 10000)
      assert(h.status == JobStatus.Completed)
    }
  }

  test("a closed stream runs no further page job") {
    // Page 0 rides back with the layout job, so 50 rows then close() cost
    // exactly one Spark job; a stream that read ahead would already have
    // run the page jobs for pages 1, 2, ...
    withRuntime(GatewayConfig(fetchPageSize = 100)) { rt =>
      val h = rt.submit("SELECT id FROM range(0, 10000, 1, 1)")
      val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == h.jobId))
            started.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val s = h.fetchStream(h.tickets.head)
        assert(s.take(50).map(_.getLong(0)).toVector == (0L until 50L).toVector)
        s.close()
        val deadline = System.nanoTime() + 10.seconds.toNanos
        while (started.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        assert(started.size == 1, s"${started.size} Spark jobs for 50 rows of page 0")
        Thread.sleep(1000) // a page job still running after close() would show by now
        assert(started.size == 1, s"${started.size} Spark jobs after close()")
        assert(rt.liveJobIds.contains(h.jobId))
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("grid_decisions view refreshes on every scan (no re-registration)") {
    withRuntime() { rt =>
      rt.registerGridDecisionsView()
      Sessions.clearGridSite("graft.grid.test_site")
      assert(spark.sql(
        "SELECT * FROM grid_decisions WHERE site = 'test_site'").count() == 0)
      // A decision recorded AFTER registration must be visible on the next
      // scan — the refresh-on-scan contract running_jobs also carries.
      Sessions.recordGridDecision("graft.grid.test_site",
        pipeline.Dedup.GridDecision("test_site", 50000, 64, "saturated",
          Some("switch strategy")))
      val rows = spark.sql("""SELECT max_bucket, grid_b, regime, recommendation
          FROM grid_decisions WHERE site = 'test_site'""").collect()
      assert(rows.length == 1, s"expected the decision row: ${rows.toSeq}")
      assert(rows.head.getInt(0) == 50000 && rows.head.getInt(1) == 64 &&
        rows.head.getString(2) == "saturated" &&
        rows.head.getString(3) == "switch strategy", s"${rows.head}")
      Sessions.clearGridSite("graft.grid.test_site")
    }
  }

  test("grid_decisions keeps history: an escalation that later clears " +
    "stays visible, seq-ordered") {
    withRuntime() { rt =>
      rt.registerGridDecisionsView()
      Sessions.clearGridSite("graft.grid.hist_site")
      try {
        // Two successive decisions for one site — e.g. a hot-bucket
        // escalation that the next run (regenerated corpus) no longer
        // shows. A latest-wins view would hide the first; the history
        // view must expose BOTH, in record order, with the max-seq row
        // being the current regime.
        Sessions.recordGridDecision("graft.grid.hist_site",
          pipeline.Dedup.GridDecision("hist_site", 9000, 40, "saturated",
            Some("switch strategy")))
        Sessions.recordGridDecision("graft.grid.hist_site",
          pipeline.Dedup.GridDecision("hist_site", 120, 1, "linear", None))
        val rows = spark.sql("""SELECT regime, seq, observed_at
            FROM grid_decisions WHERE site = 'hist_site' ORDER BY seq""")
          .collect()
        assert(rows.length == 2, s"both observations must be visible: ${rows.toSeq}")
        assert(rows(0).getString(0) == "saturated" &&
          rows(1).getString(0) == "linear", s"${rows.toSeq}")
        assert(rows(0).getLong(1) < rows(1).getLong(1),
          "seq must order the observations")
        assert(!rows(0).isNullAt(2) && !rows(1).isNullAt(2))
        // The current regime is the max-seq row — the form q_grid_decisions
        // gates on.
        val latest = spark.sql("""SELECT regime FROM grid_decisions
            WHERE site = 'hist_site' ORDER BY seq DESC LIMIT 1""").collect()
        assert(latest.head.getString(0) == "linear")
      } finally Sessions.clearGridSite("graft.grid.hist_site")
    }
  }

  test("grid history is bounded per site") {
    Sessions.clearGridSite("graft.grid.cap_site")
    try {
      (1 to Sessions.GRID_HISTORY_CAP + 5).foreach(i =>
        Sessions.recordGridDecision("graft.grid.cap_site",
          pipeline.Dedup.GridDecision("cap_site", i, 1, "linear", None)))
      val hist = Sessions.gridHistory.get("graft.grid.cap_site")
      assert(hist.size == Sessions.GRID_HISTORY_CAP)
      // Ring semantics: the OLDEST entries fell off, the latest survives.
      assert(hist.last.decision.maxBucket == Sessions.GRID_HISTORY_CAP + 5)
      assert(hist.head.decision.maxBucket == 6)
    } finally Sessions.clearGridSite("graft.grid.cap_site")
  }

  test("cancel removes the job and further fetches fail") {
    withRuntime() { rt =>
      val h = rt.submit("SELECT id FROM range(0, 10, 1, 2)")
      h.cancel()
      assert(h.status == JobStatus.Cancelled)
      intercept[IllegalStateException] { h.fetch(h.tickets.head) }
    }
  }

  test("panic() UDF fails the job but not the service (fault isolation)") {
    withRuntime() { rt =>
      val h = rt.submit("SELECT panic() FROM range(0, 10)")
      intercept[Exception] { h.fetchAll() }
      assert(h.status.isInstanceOf[JobStatus.Failed])
      // Service healthy: an immediate follow-up query succeeds.
      val h2 = rt.submit("SELECT 1 AS one")
      assert(h2.fetchAll().map(_.getInt(0)) == Seq(1))
    }
  }

  test("health query stays fast while cpu_intensive() pins cores") {
    // The reference isolates via a dedicated CPU runtime
    // (executor.rs:26-108); Spark has no task preemption, so the capability
    // maps to FAIR pools + not letting one query own every slot: the hog
    // runs on 4 of 8 local cores. SELECT 1 must still answer < 1 s
    // (exception.rs:96-103).
    withRuntime() { rt =>
      val hog = new Thread(() => {
        try rt.submit(
          "SELECT cpu_intensive(500000000) FROM range(0, 4, 1, 4)").fetchAll()
        catch { case _: Throwable => () }
      })
      hog.setDaemon(true)
      hog.start()
      Thread.sleep(300) // let the hog occupy its slots
      val t0 = System.nanoTime()
      val one = spark.sql("SELECT 1").collect()
      val ms = (System.nanoTime() - t0) / 1e6
      assert(one.head.getInt(0) == 1)
      assert(ms < 1000, s"health query took ${ms}ms under CPU load")
      hog.join(30000)
    }
  }

  test("graceful shutdown: Terminating gateway rejects new jobs, drains live ones") {
    withRuntime() { rt =>
      val live = rt.submit("SELECT id FROM range(0, 100, 1, 2)")
      rt.beginShutdown()
      intercept[IllegalStateException] { rt.submit("SELECT 1") }
      // The membership view reflects the drain (reference NodeStatus
      // Terminating, dist/src/cluster.rs:18-68).
      assert(rt.clusterNodes().collect().forall(_.getString(2) == "Terminating"))
      // In-flight job still drains to completion.
      assert(live.fetchAll().size == 100)
      assert(live.status == gateway.JobStatus.Completed)
    }
  }

  test("per-ticket delivery metrics surface in running_jobs stages JSON") {
    withRuntime() { rt =>
      val h = rt.submit("SELECT id FROM range(0, 100, 1, 4)")
      h.fetch(h.tickets.head)
      rt.registerRunningJobsView()
      val stages = spark.sql("SELECT stages FROM running_jobs").collect().head.getString(0)
      assert(stages.contains("\"fetched_partitions\": 1"), stages)
      assert(stages.contains("\"delivered_rows\": 25"), stages)
    }
  }

  test("cluster_nodes exposes live executor membership as SQL") {
    withRuntime() { rt =>
      rt.registerClusterNodesView()
      val rows = spark.sql(
        """SELECT host, status, cpu_cores, running_tasks FROM cluster_nodes""").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getString(1) == "Available"))
      assert(rows.forall(_.getInt(2) > 0))
    }
  }

  test("cluster_nodes view refreshes on scan: Terminating after beginShutdown") {
    // The view used to bake a LocalRelation in at registration, so it kept
    // reporting Available after the gateway began to drain.
    withRuntime() { rt =>
      rt.registerClusterNodesView()
      rt.beginShutdown()
      val status = spark.sql("SELECT status FROM cluster_nodes").collect()
        .map(_.getString(0)).toSet
      assert(status == Set("Terminating"), status)
    }
  }

  test("snapshot views die with their runtime") {
    val rt = new JobRuntime(spark)
    rt.registerRunningJobsView()
    rt.registerClusterNodesView()
    val jobs = rt.runningJobs()
    assert(spark.sql("SELECT count(*) FROM running_jobs").head().getLong(0) == 0L)
    rt.close()
    for (q <- Seq("SELECT * FROM running_jobs", "SELECT * FROM cluster_nodes")) {
      val e = intercept[IllegalStateException](spark.sql(q).collect())
      assert(e.getMessage.contains("is closed"), e.getMessage)
    }
    intercept[IllegalStateException](jobs.collect())
  }

  test("cpu_intensive computes the reference's wrapping fibonacci") {
    assert(gateway.Udfs.fib(10) == 55L)
    assert(gateway.Udfs.fib(0) == 0L)
    assert(gateway.Udfs.fib(-10) == 55L) // |n| iterations like n.abs()
  }

  test("ticket planning runs under the job: a GROUP BY's shuffle stage is " +
      "recorded in its stages JSON") {
    // Under AQE, planning the final stage runs the upstream shuffle stage;
    // it must run in the job's group and pool, where cancel, TTL and
    // running_jobs see it.
    withRuntime() { rt =>
      val h = rt.submit(
        "SELECT id % 7 AS k, count(*) AS n FROM range(0, 10000, 1, 4) GROUP BY id % 7")
      assert(h.tickets.nonEmpty)
      def stages = rt.runningJobs().collect().head.getString(3)
      val stage = "\"\\d+\": \\{\"num_tasks\"".r
      val deadline = System.nanoTime() + 10.seconds.toNanos
      while (stage.findFirstIn(stages).isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(stage.findFirstIn(stages).nonEmpty, stages)
    }
  }

  test("one Spark job per result: 3 partitions, 2 of them empty, drained " +
      "ticket by ticket") {
    withRuntime() { rt =>
      val h = rt.submit("SELECT id FROM range(0, 300, 1, 3) WHERE id < 100")
      val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == h.jobId))
            started.add(e.jobId)
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (started.contains(e.jobId)) ended.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val tickets = h.tickets
        assert(tickets.size == 3)
        assert(tickets.map(h.fetch(_).size) == Seq(100, 0, 0))
        assert(h.status == JobStatus.Completed)
        val deadline = System.nanoTime() + 10.seconds.toNanos
        while ((started.isEmpty || ended.size < started.size) && System.nanoTime() < deadline)
          Thread.sleep(20)
        Thread.sleep(300) // any later job's events would be on the bus by now
        assert(started.size == 1, s"${started.size} Spark jobs for one 3-ticket result")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
