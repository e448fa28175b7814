package graft.gateway

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, ScheduledExecutorService, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, JobSucceeded}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Job status lifecycle, mirroring the reference's registry semantics
  * (`dist/src/runtime.rs:128-251`, `dist/src/event.rs:22-454`): a job is
  * visible in `running_jobs` from submit until cleanup; cleanup fires on
  * completion (all result partitions delivered), cancellation, TTL expiry,
  * or the client never fetching a ticket in time.
  */
sealed trait JobStatus
object JobStatus {
  case object Submitted extends JobStatus
  case object Running extends JobStatus
  case object Completed extends JobStatus
  case class Failed(reason: String) extends JobStatus
  case object Cancelled extends JobStatus
}

/** Lifecycle knobs — names and defaults from `dist/src/config.rs:12-22`
  * (job_ttl 30 min, ttl check 5 min, stage-0 poll timeout 10 s). Tests dial
  * these down like the reference app does (`app/src/main.rs:53-55`).
  * `fetchPageSize` bounds how many rows of a result partition ever sit on
  * the driver at once during a ticket fetch (the analog of the reference's
  * Arrow batch size feeding its capacity-2 result channel,
  * `dist/src/runtime.rs:253-303`). */
final case class GatewayConfig(
    jobTtl: FiniteDuration = 30.minutes,
    ttlCheckInterval: FiniteDuration = 5.minutes,
    neverFetchedTimeout: FiniteDuration = 10.seconds,
    fetchPageSize: Int = 10000)

/** One result ticket = one partition of the job's final stage — the Spark
  * analog of the reference's stage-0 `TaskId` tickets
  * (`integration-tests/app/src/main.rs:296-330`). */
final case class Ticket(jobId: String, partition: Int)

/** One job's registry entry. The job is fixed at submit by its logical
  * plan (for a command, the plan over its already-produced output rows):
  * the Dataset is dropped by [[release]], and a grace re-fetch rebuilds
  * one from the plan, so a view replaced after submit does not change
  * what a ticket returns, and a command does not run again. */
private[gateway] final class JobState(
    val jobId: String,
    val createdAtMs: Long,
    val meta: Map[String, String],
    submitted: DataFrame,
    val pageSize: Int) {
  /** The result schema, fixed at submit: reading it never plans. */
  val schema: StructType = submitted.schema
  private val session = submitted.queryExecution.sparkSession
  private val plan: LogicalPlan = submitted.queryExecution.commandExecuted
  private var dfV: DataFrame = submitted
  /** The job's DataFrame: the submitted one until [[release]]; after it,
    * one rebuilt from [[plan]] on first use. */
  def df: DataFrame = synchronized {
    if (dfV == null) dfV = new classic.Dataset[Row](session, plan, Encoders.row(schema))
    dfV
  }
  /** The Dataset held now, without building one (a released job holds none). */
  private[gateway] def heldDataset: Option[DataFrame] = synchronized(Option(dfV))
  @volatile var status: JobStatus = JobStatus.Submitted
  @volatile var firstFetchAtMs: Long = -1L
  val fetchedPartitions = ConcurrentHashMap.newKeySet[Int]()
  // Per-ticket delivery metrics (reference TaskStream row counting,
  // dist/src/runtime.rs:598-686).
  val partitionRows = new TrieMap[Int, Long]()
  // Peak rows held on the driver by any single fetch page — the observable
  // for the bounded-delivery contract (never a whole partition at once).
  val maxPageRows = new java.util.concurrent.atomic.AtomicLong(0L)
  // Spark-side execution bookkeeping for the stages JSON (listener-fed).
  val sparkJobs = new TrieMap[Int, String]()   // spark job id -> state
  val sparkStages = new TrieMap[Int, (Int, String)]() // stage id -> (numTasks, state)
  // The final stage, materialized ONCE per partition as pre-built pages of
  // ≤ pageSize rows and cached (reference TaskSet reuse, runtime.rs:499-525;
  // its stream never re-scans a partition, runtime.rs:253-303). Page k is
  // then `iterator.drop(k).next()` — k array *references* skipped, not
  // k·pageSize rows re-deserialized, so draining P pages costs O(P) page
  // touches instead of the O(P²·pageSize) row-touches a per-page
  // `it.slice(lo, hi)` would cost. Each cached element carries a
  // computation token (nanoTime stamped when the partition materializes):
  // if a cached block is lost and recomputed, the token changes and the
  // in-flight stream fails loudly instead of silently crossing page
  // boundaries of two different row orders (post-shuffle recompute order
  // is not guaranteed stable).
  private var pagesV: RDD[(Long, Array[Row])] = null
  def pages: RDD[(Long, Array[Row])] = synchronized {
    if (pagesV == null) {
      val ps = pageSize
      pagesV = df.rdd.mapPartitions({ it =>
        val token = System.nanoTime()
        it.grouped(ps).map(g => (token, g.toArray))
      }, preservesPartitioning = true)
      pagesV.persist(StorageLevel.MEMORY_AND_DISK)
    }
    pagesV
  }
  /** Fixed by the first materialization: the ticket count clients hold. */
  lazy val numPartitions: Int = pages.getNumPartitions

  /** Keep only what a grace re-fetch needs once the job is terminal: the
    * [[schema]] and the logical [[plan]]. The executed QueryExecution and
    * the pages lineage pin about 0.4 MB of gateway heap per job (planner
    * bookkeeping, and the scan's broadcast Hadoop configuration, whose
    * blocks stay in the block manager until the lineage is collected), and
    * even a fresh Dataset over the plan pins about 80 KB (its planning
    * tracker's rule summaries). The gateway keeps terminal handles for a
    * re-fetch grace window, so whatever a handle keeps grows with every job
    * served in that window. A grace re-fetch re-plans from [[plan]] and
    * rebuilds the pages, which the recompute already required. */
  def release(): Unit = synchronized {
    if (pagesV != null) {
      try pagesV.unpersist(blocking = false) catch { case _: Throwable => () }
      pagesV = null
    }
    dfV = null
  }
  val completion = new CountDownLatch(1)
}

/** A page job observed a different computation of the cached result
  * partition than earlier pages of the same stream (cached block lost →
  * Spark recomputed the partition; for post-shuffle RDDs the recomputed row
  * order is not guaranteed identical, so offset-based pages could silently
  * duplicate or drop boundary rows). Failing loudly beats returning wrong
  * rows; the ticket stays re-fetchable — a fresh stream re-reads (and
  * re-caches) the partition self-consistently from page 0. */
final class PartitionRecomputeException(msg: String)
  extends IllegalStateException(msg)

/** Per-job result handle: tickets, per-partition fetch, cancellation. */
final class JobHandle private[gateway] (runtime: JobRuntime, state: JobState) {
  def jobId: String = state.jobId
  def schema: StructType = state.schema
  def status: JobStatus = state.status
  /** One ticket per final-stage partition (lifecycle step 5 in SURVEY §3.1). */
  def tickets: Seq[Ticket] =
    (0 until state.numPartitions).map(Ticket(state.jobId, _))
  /** Materialize one partition's rows (convenience over [[fetchStream]] —
    * the caller chooses to hold the whole partition). Re-fetching a ticket
    * re-reads the cached pre-paged stage — same semantics as the
    * reference's fresh-TaskSet re-execution. */
  def fetch(ticket: Ticket): Seq[Row] = runtime.fetch(state, ticket.partition)
  /** Test hook: the Dataset the job holds now, if any. A released job
    * holds none; its grace re-fetch rebuilds one from the logical plan. */
  private[graft] def heldDataset: Option[DataFrame] = state.heldDataset
  /** Test hook: evict and re-mark the cached pages (simulates losing the
    * cached blocks to memory pressure / executor loss — the next page job
    * recomputes the partition and re-caches it under a new token). */
  private[graft] def simulateBlockLoss(): Unit = {
    state.pages.unpersist(blocking = true)
    state.pages.persist(StorageLevel.MEMORY_AND_DISK)
    ()
  }
  /** Stream one partition's rows through bounded pages: at most
    * `fetchPageSize` rows × (queue capacity 2 + the page in hand) ever sit
    * on the driver — the Spark analog of the reference's backpressured
    * capacity-2 Arrow batch channel (`dist/src/runtime.rs:253-303`).
    * Close early to abandon the stream (remaining page jobs stop). */
  def fetchStream(ticket: Ticket): PartitionRowStream =
    runtime.rowStream(state, ticket.partition)
  /** Drain every ticket in partition order. */
  def fetchAll(): Seq[Row] = tickets.flatMap(fetch)
  /** Peak rows any single fetch page held on the driver for this job. */
  def maxPageRows: Long = state.maxPageRows.get
  def cancel(): Unit = runtime.cancel(state.jobId)
  def awaitCompletion(timeout: FiniteDuration): Boolean =
    state.completion.await(timeout.toMillis, TimeUnit.MILLISECONDS)
}

/** A pull-backpressured row stream over one result partition.
  *
  * A producer thread issues one narrow page job at a time against the
  * cached pre-paged final stage (page k = `it.drop(k).next()`, k array
  * references skipped) and hands pages to the consumer through a
  * capacity-2 bounded queue — the direct Spark analog of the reference
  * streaming a partition as Arrow batches through a capacity-2 channel
  * (`dist/src/runtime.rs:253-303`, `networks/tonic/src/server.rs:109-141`).
  * The driver therefore never holds more than ~3 pages of the partition
  * regardless of partition size; a slow consumer blocks the producer
  * (backpressure), not memory; and total per-partition work is one
  * materializing pass plus O(pages²) array-reference skips — no row is
  * deserialized twice.
  *
  * Every page job also returns the partition's computation token and the
  * boundary row (last row of page k-1, an O(1) array access on the cached
  * page): a token or boundary mismatch against what this stream already
  * delivered means the cached block was lost and recomputed — the stream
  * throws [[PartitionRecomputeException]] rather than risk duplicating or
  * dropping rows across the boundary, and the ticket stays re-fetchable.
  *
  * Draining the stream marks the ticket delivered (completion bookkeeping
  * identical to a materialized fetch); a failed page job fails the job.
  */
final class PartitionRowStream private[gateway] (
    runtime: JobRuntime,
    st: JobState,
    partition: Int,
    pageSize: Int)
  extends Iterator[Row] with AutoCloseable {

  private val queue =
    new java.util.concurrent.ArrayBlockingQueue[AnyRef](2)
  @volatile private var stopped = false
  private object End
  private final case class Err(e: Throwable)

  /** The partition's computation token as stamped by this stream's FIRST
    * page job ([[PartitionRowStream.NO_TOKEN]] until that job returns; -1
    * for an empty partition — no page ever materialized to stamp one).
    * The gateway returns it to the client on the fetch header/ack and
    * compares the echo on an offset resume: a mismatch means the client's
    * kept prefix and this stream's tail come from DIFFERENT computations
    * (recomputed row order is not guaranteed identical), so skip-K would
    * silently splice two orderings (ADVICE r15 high). */
  @volatile private var streamTokenV: Long = PartitionRowStream.NO_TOKEN
  private[gateway] def computationToken: Long = streamTokenV

  private def offer(x: AnyRef): Unit = {
    while (!stopped && !queue.offer(x, 100, TimeUnit.MILLISECONDS)) {}
  }

  private val producer = new Thread(() => {
    val sc = runtime.spark.sparkContext
    sc.setJobGroup(st.jobId,
      s"graft job ${st.jobId} partition $partition", interruptOnCancel = true)
    sc.setLocalProperty("spark.scheduler.pool", "graft-jobs")
    try {
      val pages = st.pages // one lineage per stream, even if the job is released
      var k = 0
      var last = false
      var streamToken = -1L   // stamped by the first page job of this stream
      var lastDelivered: Row = null // last row of the page the consumer got
      while (!stopped && !last) {
        val pageIdx = k
        // Skip k cached page *arrays* (O(k) references), remembering the
        // boundary row of page k-1 and the partition's computation token.
        val (token, skipped, boundary, page) = sc.runJob(pages,
          (it: Iterator[(Long, Array[Row])]) => {
            var tok = -1L
            var bnd: Row = null
            var i = 0
            while (i < pageIdx && it.hasNext) {
              val (t, arr) = it.next(); tok = t; bnd = arr(arr.length - 1); i += 1
            }
            val pg: Array[Row] =
              if (i == pageIdx && it.hasNext) { val (t, arr) = it.next(); tok = t; arr }
              else Array.empty[Row]
            (tok, i, bnd, pg)
          },
          Seq(partition)).head
        if (skipped != pageIdx)
          throw new PartitionRecomputeException(
            s"result partition $partition of job ${st.jobId} was recomputed " +
              s"with fewer pages ($skipped) than already streamed ($pageIdx); " +
              "refusing to deliver inconsistent rows — re-fetch the ticket")
        if (pageIdx == 0) { streamToken = token; streamTokenV = token }
        else if (token != streamToken || (lastDelivered != null && boundary != lastDelivered))
          throw new PartitionRecomputeException(
            s"result partition $partition of job ${st.jobId} was recomputed " +
              "mid-stream (cached block lost); page boundaries of the new " +
              "computation may not line up — re-fetch the ticket")
        last = page.length < pageSize
        k += 1
        st.maxPageRows.updateAndGet(m => math.max(m, page.length.toLong))
        if (page.nonEmpty) {
          lastDelivered = page(page.length - 1)
          offer(page)
        }
      }
      if (!stopped) offer(End)
    } catch {
      case e: Throwable => offer(Err(e))
    } finally {
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.clearJobGroup()
    }
  }, s"graft-fetch-${st.jobId}-p$partition")
  producer.setDaemon(true)
  producer.start()

  private var current: Iterator[Row] = Iterator.empty
  private var finished = false
  private var delivered = 0L

  override def hasNext: Boolean = {
    if (current.hasNext) return true
    if (finished) return false
    // Pull the next page (blocking: producer always terminates each stream
    // with a page, End, or Err unless the consumer closed first).
    var next: AnyRef = null
    while (next == null && !stopped) next = queue.poll(100, TimeUnit.MILLISECONDS)
    next match {
      case null => finished = true; false // closed mid-stream
      case End =>
        finished = true
        runtime.onPartitionDrained(st, partition, delivered)
        false
      case Err(e) =>
        finished = true
        e match {
          case _: PartitionRecomputeException =>
            // Recoverable: the job stays live and the ticket re-fetchable —
            // a fresh stream re-reads the partition self-consistently.
            ()
          case _ => runtime.onFetchFailed(st, e)
        }
        throw e
      case page: Array[Row] @unchecked =>
        current = page.iterator
        hasNext
    }
  }

  override def next(): Row = {
    if (!hasNext) throw new NoSuchElementException("partition stream drained")
    delivered += 1
    current.next()
  }

  /** Abandon the stream: pending page jobs stop, nothing is marked
    * delivered (the ticket stays re-fetchable). Draining to the end makes
    * close a no-op. */
  override def close(): Unit = {
    stopped = true
    queue.clear()
  }
}

object PartitionRowStream {
  /** [[PartitionRowStream.computationToken]] before the first page job
    * returns. nanoTime can legally be ANY long, but a token is stamped at
    * most once per stream and compared only against tokens of the same
    * partition's materializations — MinValue colliding with a real stamp
    * would only skip one detectable splice, never corrupt rows. */
  val NO_TOKEN: Long = Long.MinValue
}

/** The gateway: submit SQL/DataFrames as tracked jobs, fetch per-partition
  * ticketed results, observe live jobs through `running_jobs`, and clean up
  * on completion / TTL / never-fetched / cancel.
  *
  * This is the Spark-native build of the reference's product layer
  * (SURVEY §2.3/§3.1): plan shipping, stage scheduling, shuffle and task
  * retry are Spark-native (DAGScheduler), so the custom surface is exactly
  * the job registry + ticket delivery + lifecycle that
  * `dist/src/runtime.rs`/`event.rs` implement in Rust. Everything here is
  * driver-side control plane — no data-plane work happens on this thread
  * pool, and result partitions are delivered as bounded pages through
  * [[PartitionRowStream]] (capacity-2 queue of ≤ `fetchPageSize`-row
  * pages), so a 1000-executor cluster streams results without the driver
  * ever holding a whole partition — let alone the whole result set.
  */
final class JobRuntime(
    val spark: SparkSession,
    config: GatewayConfig = GatewayConfig()) extends AutoCloseable {

  private val registry = new ConcurrentHashMap[String, JobState]()

  /** Identity for refresh-on-scan views: [[RunningJobsSource]] resolves the
    * live runtime by this id at every scan. */
  val runtimeId: String = UUID.randomUUID().toString
  RunningJobsSource.runtimes.put(runtimeId, this)

  /** Graceful-shutdown latch: a Terminating gateway rejects new work but
    * lets live jobs drain (reference `dist/src/runtime.rs:120-126,320-325`:
    * nodes reject task sends when not Available). */
  @volatile private var terminating = false
  def beginShutdown(): Unit = { terminating = true }
  def isTerminating: Boolean = terminating

  /** Maps Spark-scheduler events back to gateway jobs via the job group —
    * the Spark analog of the reference's TaskStream metrics + completion
    * events (`dist/src/runtime.rs:598-686`). */
  private val listener = new SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      val group = Option(jobStart.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      Option(registry.get(group)).foreach { st =>
        st.sparkJobs.put(jobStart.jobId, "running")
        if (st.status == JobStatus.Submitted) st.status = JobStatus.Running
        jobStart.stageInfos.foreach(si =>
          st.sparkStages.put(si.stageId, (si.numTasks, "submitted")))
      }
    }
    override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = {
      registry.values.asScala.find(_.sparkJobs.contains(jobEnd.jobId)).foreach { st =>
        st.sparkJobs.put(jobEnd.jobId,
          if (jobEnd.jobResult == JobSucceeded) "succeeded" else "failed")
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val sid = sc.stageInfo.stageId
      registry.values.asScala.find(_.sparkStages.contains(sid)).foreach { st =>
        val state =
          if (sc.stageInfo.failureReason.isDefined) "failed" else "succeeded"
        st.sparkStages.put(sid, (sc.stageInfo.numTasks, state))
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** TTL + never-fetched sweeper — the reference's event loop
    * (`dist/src/runtime.rs:688-731`, `event.rs:427-454`) as a scheduled
    * driver task. */
  private val sweeper: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-gateway-sweeper"); t.setDaemon(true); t
    })
  sweeper.scheduleWithFixedDelay(() => sweep(),
    config.ttlCheckInterval.toMillis, config.ttlCheckInterval.toMillis,
    TimeUnit.MILLISECONDS)

  private def sweep(): Unit = {
    val now = System.currentTimeMillis()
    registry.values.asScala.foreach { st =>
      val age = now - st.createdAtMs
      val neverFetched = st.firstFetchAtMs < 0 &&
        age > config.neverFetchedTimeout.toMillis
      if (age > config.jobTtl.toMillis || neverFetched)
        cleanup(st, JobStatus.Cancelled)
    }
  }

  /** SQL entry (SURVEY §3.1 step 2-5): parse/plan via Catalyst, register,
    * return the ticketed handle. Execution is pull-based — nothing runs
    * until a ticket is fetched, mirroring the reference's streaming pulls. */
  def submit(sql: String, meta: Map[String, String] = Map.empty): JobHandle =
    submitDataFrame(spark.sql(sql), meta + ("query" -> sql))

  /** Programmatic entry (SURVEY §3.2): any DataFrame as a tracked job. */
  def submitDataFrame(df: DataFrame, meta: Map[String, String] = Map.empty): JobHandle = {
    if (terminating)
      throw new IllegalStateException("gateway is terminating: new jobs rejected")
    val jobId = UUID.randomUUID().toString
    val st = new JobState(jobId, System.currentTimeMillis(), meta, df,
      config.fetchPageSize)
    registry.put(jobId, st)
    new JobHandle(this, st)
  }

  /** Bounded streaming fetch of one result partition. The job group and
    * FAIR pool are set on the stream's producer thread (cancellation +
    * listener correlation; gateway work never starves other pools'
    * health queries). */
  private[gateway] def rowStream(st: JobState, partition: Int): PartitionRowStream = {
    if (!registry.containsKey(st.jobId)) st.status match {
      // A COMPLETED job can still be re-fetched while a caller holds its
      // handle: completion is inferred from a drained stream, and a drain
      // into a dead client socket looks identical to a real delivery (TCP
      // buffers absorb whole small partitions). The server's handle grace
      // window bounds how long this stays reachable; cleanup released the
      // Dataset and its pages, so the re-fetch re-plans from the logical
      // plan and recomputes — the same re-execution discipline as the
      // reference's task retry (dist/src/runtime.rs:499-525). The rebuilt
      // pages are persisted like the first ones (ADVICE r15 medium: uncached,
      // every page job would recompute under a fresh token and a multi-page
      // re-fetch would die at page 1 with PartitionRecomputeException);
      // the re-drain's cleanup releases them again, so nothing is retained
      // past the re-fetch. Cancelled/Failed/TTL'd stay dead.
      case JobStatus.Completed => ()
      case _ =>
        throw new IllegalStateException(
          s"job ${st.jobId} is not live (cleaned up or cancelled)")
    }
    if (st.firstFetchAtMs < 0) st.firstFetchAtMs = System.currentTimeMillis()
    new PartitionRowStream(this, st, partition, st.pageSize)
  }

  /** Materializing fetch = drain the bounded stream into a Seq. Memory here
    * is the caller's choice; the transport itself stays paged. */
  private[gateway] def fetch(st: JobState, partition: Int): Seq[Row] = {
    val stream = rowStream(st, partition)
    try stream.toVector finally stream.close()
  }

  /** CheckJobCompleted: all final-stage partitions delivered → cleanup
    * (reference event.rs:185-334). Called by the stream on full drain. */
  private[gateway] def onPartitionDrained(st: JobState, partition: Int, rows: Long): Unit = {
    st.partitionRows.put(partition, rows)
    st.fetchedPartitions.add(partition)
    if (st.fetchedPartitions.size == st.numPartitions)
      cleanup(st, JobStatus.Completed)
  }

  private[gateway] def onFetchFailed(st: JobState, e: Throwable): Unit =
    cleanup(st, JobStatus.Failed(Option(e.getMessage).getOrElse(e.getClass.getName)))

  def cancel(jobId: String): Unit =
    Option(registry.get(jobId)).foreach { st =>
      spark.sparkContext.cancelJobGroup(jobId)
      cleanup(st, JobStatus.Cancelled)
    }

  private def cleanup(st: JobState, terminal: JobStatus): Unit = {
    registry.remove(st.jobId)
    st.status = terminal
    st.release()
    st.completion.countDown()
  }

  def liveJobIds: Set[String] = registry.keySet.asScala.toSet

  /** Test hook: the handle of a live job submitted through another front
    * end (the socket gateway keeps its own), for [[JobHandle.simulateBlockLoss]]. */
  private[graft] def handleOf(jobId: String): Option[JobHandle] =
    Option(registry.get(jobId)).map(new JobHandle(this, _))

  /** Registry snapshot as plain rows (job_id, created_at ms, job_meta JSON,
    * stages JSON) — the shared producer behind [[runningJobs]] and the
    * refresh-on-scan [[RunningJobsSource]] table. */
  private[gateway] def runningJobsSnapshot(): Seq[(String, Long, String, String)] = {
    import GatewayServer.jstr
    registry.values.asScala.toSeq.sortBy(_.jobId).map { st =>
      val metaJson = st.meta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")
      val resultEntry =
        "\"result\": {\"fetched_partitions\": " + st.fetchedPartitions.size +
          ", \"delivered_rows\": " + st.partitionRows.values.sum + "}"
      val stagesJson = (st.sparkStages.toSeq.sortBy(_._1)
        .map { case (sid, (n, state)) =>
          s"${jstr(sid.toString)}: {\"num_tasks\": $n, \"state\": ${jstr(state)}}" }
        :+ resultEntry)
        .mkString("{", ", ", "}")
      (st.jobId, st.createdAtMs, metaJson, stagesJson)
    }
  }

  /** The `running_jobs` observability relation — schema per
    * `dist/src/util.rs:148-158` (job_id, created_at ms, job_meta JSON,
    * stages JSON), queryable like any other table. This DataFrame is a
    * point-in-time snapshot (LocalTableScan); for the always-fresh SQL
    * view use [[registerRunningJobsView]]. */
  def runningJobs(): DataFrame = {
    val rows = runningJobsSnapshot().map { case (id, ms, meta, stages) =>
      Row(id, new java.sql.Timestamp(ms), meta, stages)
    }
    spark.createDataFrame(rows.asJava, RunningJobsSource.schema)
  }

  /** Register `running_jobs` as a refresh-on-scan SQL view: the backing
    * DataSource V2 table re-snapshots this runtime's registry during the
    * planning of EVERY query over the view — exactly the reference's
    * `RunningJobsTable.scan` re-reading the registry per scan
    * (`integration-tests/app/src/table.rs:43-60`). One registration serves
    * the runtime's whole life; the view dies with [[close]]. */
  def registerRunningJobsView(): Unit =
    spark.read.format("graft-running-jobs").option("runtimeId", runtimeId)
      .load().createOrReplaceTempView("running_jobs")

  /** Register `grid_decisions` — the dedup grids' occupancy-decision
    * registry ([[graft.Sessions.gridHistory]]) as a refresh-on-scan SQL
    * view, same discipline as `running_jobs`: a dashboard polls
    * `SELECT * FROM grid_decisions WHERE regime <> 'linear'` and sees
    * escalations (and the saturated regime's strategy recommendation) the
    * moment the witness listener records them. */
  def registerGridDecisionsView(): Unit =
    spark.read.format("graft-grid-decisions")
      .load().createOrReplaceTempView("grid_decisions")

  /** Register `store_occupancy` — the content-keyed temp-store registry
    * ([[graft.Tables.storeRegistry]]) as a refresh-on-scan SQL view, same
    * discipline as `grid_decisions`: one row per live persisted store
    * with bytes + LRU access seq + the caps and eviction counter, so a
    * long-lived gateway's operator can watch the store budget hold. */
  def registerStoreOccupancyView(): Unit =
    spark.read.format("graft-store-occupancy")
      .load().createOrReplaceTempView("store_occupancy")

  /** Point-in-time `store_occupancy` snapshot (the [[runningJobs]] shape)
    * — the socket gateway's `store_occupancy` op reads this, so a remote
    * operator polls the store budget without registering views. */
  def storeOccupancy(): DataFrame = {
    val (cap, bcap, ev) = (graft.Tables.storeCountCap,
      graft.Tables.storeBytesCap, graft.Tables.storeEvictions.get())
    val rows = graft.Tables.storeOccupancySnapshot
      .sortBy(r => (r._1, r._2))
      .map { case (store, key, bytes, seq) =>
        Row(store, key, bytes, seq, cap, bcap, ev)
      }
    spark.createDataFrame(rows.asJava, StoreOccupancySource.schema)
  }

  /** Cluster/heartbeat observability — the reference's `cluster_nodes`
    * membership table fed by `Heartbeater` upserts
    * (`dist/src/heartbeat.rs:21-73`, `clusters/postgres/src/cluster.rs:
    * 62-193`: NodeId{host,port} + NodeState{status, memory, cpu, running
    * tasks}). Spark maintains the same state natively via executor
    * heartbeats; this surfaces the status tracker's live view as SQL. On
    * local[n] there is exactly one row (the driver executor); on a
    * 1000-executor cluster, one per executor. */
  def clusterNodes(): DataFrame = {
    val sc = spark.sparkContext
    // Per-executor cores: executor conf on a real cluster; thread count on
    // local[n]. Driver-JVM Runtime values would be wrong on a multi-executor
    // cluster (every row would report driver-local memory/cpu).
    // Covers local[N], local[*], and local[N,maxFailures].
    val localN = """local\[(\d+|\*)(?:,\d+)?\]""".r
    val coresPerExecutor = sc.master match {
      case localN(n) =>
        if (n == "*") Runtime.getRuntime.availableProcessors else n.toInt
      case _ => sc.getConf.getInt("spark.executor.cores", 1)
    }
    // Reference NodeStatus semantics (dist/src/cluster.rs:18-68): a
    // Terminating gateway drains — visible in the membership view so
    // schedulers stop routing to it.
    val status = if (terminating) "Terminating" else "Available"
    val rows = sc.statusTracker.getExecutorInfos.toSeq.map { e =>
      val total = e.totalOnHeapStorageMemory() + e.totalOffHeapStorageMemory()
      val used = e.usedOnHeapStorageMemory() + e.usedOffHeapStorageMemory()
      Row(e.host(), e.port(), status,
        total, total - used, used,
        coresPerExecutor, e.numRunningTasks())
    }
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("port", IntegerType, nullable = false),
      StructField("status", StringType, nullable = false),
      StructField("total_memory", LongType, nullable = false),
      StructField("free_memory", LongType, nullable = false),
      StructField("used_storage_memory", LongType, nullable = false),
      StructField("cpu_cores", IntegerType, nullable = false),
      StructField("running_tasks", IntegerType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  def registerClusterNodesView(): Unit =
    clusterNodes().createOrReplaceTempView("cluster_nodes")

  override def close(): Unit = {
    RunningJobsSource.runtimes.remove(runtimeId)
    sweeper.shutdownNow()
    registry.values.asScala.toSeq.foreach(st => cleanup(st, JobStatus.Cancelled))
    spark.sparkContext.removeSparkListener(listener)
  }
}
