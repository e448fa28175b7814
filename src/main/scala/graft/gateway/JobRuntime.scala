package graft.gateway

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, ScheduledExecutorService, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
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
  * `fetchPageSize` bounds the rows of one result page — one Arrow record
  * batch — and so how many rows of a result partition ever sit on the
  * driver at once during a ticket fetch: a stream holds one page at a
  * time (the analog of the reference's Arrow batch size,
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

/** One cached result page: `rows` rows as one LZ4_FRAME Arrow IPC
  * record-batch message ([[ArrowCodec.encodePages]]), stamped with the
  * computation token of the partition materialization that built it. */
private[gateway] final case class ResultPage(token: Long, rows: Int, bytes: Array[Byte])

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

  /** Run `body` on this thread under the job's group and the `graft-jobs`
    * FAIR pool (cancellation, TTL and listener correlation; gateway work
    * never starves other pools' health queries), then restore the thread's
    * own properties. Everything that can run a Spark job for this job goes
    * through here: planning (which, under AQE, runs the upstream shuffle
    * stages) as much as the page jobs. */
  def underJob[A](body: => A): A = {
    val sc = session.sparkContext
    val saved = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
      "spark.scheduler.pool").map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(jobId, s"graft job $jobId", interruptOnCancel = true)
    sc.setLocalProperty("spark.scheduler.pool", "graft-jobs")
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private var pagesV: ResultPages = null
  /** The final stage as cached result pages — planned on first use, under
    * the job ([[underJob]]). */
  def pages: ResultPages = synchronized {
    if (pagesV == null) pagesV = underJob(new ResultPages(df, pageSize))
    pagesV
  }
  /** Fixed by the first materialization: the ticket count clients hold. */
  lazy val numPartitions: Int = pages.rdd.getNumPartitions

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
      try pagesV.rdd.unpersist(blocking = false) catch { case _: Throwable => () }
      pagesV = null
    }
    dfV = null
  }
  val completion = new CountDownLatch(1)
}

/** One materialization of a job's result: its final stage
  * (`queryExecution.toRdd`, so the job is planned once and no row becomes
  * an external `Row` on the way) as cached [[ResultPage]]s of
  * ≤ `pageSize` rows each, built and compressed by the task that computes
  * the partition (reference TaskSet reuse, runtime.rs:499-525; its stream
  * never re-scans a partition, runtime.rs:253-303).
  *
  * The first fetch of any ticket runs ONE job over every partition
  * ([[layout]]): each task caches its pages and returns only its
  * computation token and page row counts, plus — for the partition that
  * fetch asked for — its first page. From then on an empty partition
  * needs no job, and page k of a partition is one narrow job that skips
  * k cached page references (`iterator.drop(k)`), never re-touching a row.
  * The token (nanoTime when the task starts) changes whenever a lost block
  * is recomputed, which is how a stream notices that its next page comes
  * from another computation (post-shuffle recompute order is not
  * guaranteed stable). */
private[gateway] final class ResultPages(df: DataFrame, pageSize: Int) {
  val rdd: RDD[ResultPage] = {
    val (schema, rows) = (df.schema, pageSize)
    ArrowCodec.toArrowSchema(schema) // refuse, here on the driver, a type pages cannot carry
    df.queryExecution.toRdd.mapPartitions({ it =>
      val token = System.nanoTime()
      ArrowCodec.encodePages(schema, it, rows).map { case (n, page) => ResultPage(token, n, page) }
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
  }

  // partition -> (token, page row counts), set by the one layout job, and
  // the first page that job brought back for the partition it was run for.
  private var layoutV: Array[(Long, Array[Int])] = null
  private var firstPage: (Int, ResultPage) = null

  /** Partition `p`'s (token, page row counts, first page if this call
    * hands it over, else null). The first call runs the layout job, on the
    * calling thread, so under the caller's job group. */
  def layout(p: Int): (Long, Array[Int], ResultPage) = synchronized {
    if (layoutV == null) {
      val got = rdd.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[ResultPage]) => {
        var token = -1L
        val rows = Array.newBuilder[Int]
        var first: ResultPage = null
        it.foreach { pg =>
          if (first == null && ctx.partitionId() == p) first = pg
          token = pg.token
          rows += pg.rows
        }
        (token, rows.result(), first)
      })
      layoutV = got.map(g => (g._1, g._2))
      firstPage = (p, got(p)._3)
    }
    val handed = if (firstPage != null && firstPage._1 == p) firstPage._2 else null
    if (handed != null) firstPage = null
    (layoutV(p)._1, layoutV(p)._2, handed)
  }

  /** Page k of partition p from the cache, in one job; null when the
    * partition now has k pages or fewer (a recompute changed it). */
  def page(p: Int, k: Int): ResultPage =
    rdd.sparkContext.runJob(rdd, (it: Iterator[ResultPage]) => {
      val rest = it.drop(k)
      if (rest.hasNext) rest.next() else null
    }, Seq(p)).head
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
  /** One ticket per final-stage partition (lifecycle step 5 in SURVEY §3.1).
    * Plans the job under its group and pool; under AQE that runs the
    * upstream shuffle stages. */
  def tickets: Seq[Ticket] =
    (0 until state.numPartitions).map(Ticket(state.jobId, _))
  /** Materialize one partition's rows (convenience over [[fetchStream]] —
    * the caller chooses to hold the whole partition). Re-fetching a ticket
    * re-reads the cached pages — same semantics as the reference's
    * fresh-TaskSet re-execution. */
  def fetch(ticket: Ticket): Seq[Row] = {
    val stream = fetchStream(ticket)
    try stream.toVector finally stream.close()
  }
  /** Test hook: the Dataset the job holds now, if any. A released job
    * holds none; its grace re-fetch rebuilds one from the logical plan. */
  private[graft] def heldDataset: Option[DataFrame] = state.heldDataset
  /** Test hook: evict and re-mark the cached pages (simulates losing the
    * cached blocks to memory pressure / executor loss — the next page job
    * recomputes the partition and re-caches it under a new token). */
  private[graft] def simulateBlockLoss(): Unit = {
    state.pages.rdd.unpersist(blocking = true)
    state.pages.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    ()
  }
  /** Stream one partition's rows through bounded pages, pulled one at a
    * time on the calling thread: at most one page of `fetchPageSize` rows
    * sits on the driver — the Spark analog of the reference's
    * backpressured Arrow batch stream (`dist/src/runtime.rs:253-303`).
    * Close early to abandon the stream (no further page job runs). */
  def fetchStream(ticket: Ticket): PartitionRowStream =
    runtime.rowStream(state, ticket.partition, 0L)
  /** [[fetchStream]] from row `fromRow` of the partition (an offset
    * resume): pages before it are skipped by their row counts. */
  private[gateway] def fetchStream(ticket: Ticket, fromRow: Long): PartitionRowStream =
    runtime.rowStream(state, ticket.partition, fromRow)
  /** Drain every ticket in partition order. */
  def fetchAll(): Seq[Row] = tickets.flatMap(fetch)
  /** Peak rows any single fetch page held on the driver for this job. */
  def maxPageRows: Long = state.maxPageRows.get
  def cancel(): Unit = runtime.cancel(state.jobId)
  def awaitCompletion(timeout: FiniteDuration): Boolean =
    state.completion.await(timeout.toMillis, TimeUnit.MILLISECONDS)
}

/** A pull iterator over one result partition, from row `fromRow`: pages
  * for the gateway's Arrow wire ([[nextPage]]), rows for everyone else
  * (each page decoded as it is reached — the one page format serves
  * both).
  *
  * Every pull runs on the caller's thread, under the job's group and pool
  * ([[JobState.underJob]]). The first pull takes the partition's layout
  * from [[ResultPages.layout]] (running the job's one layout job if no
  * fetch has yet); each later pull runs the one narrow page job for the
  * page it needs. Nothing is read ahead: the pages already sit in the
  * executors' cache, so the stream holds at most one page on the driver,
  * a slow consumer simply pulls later (backpressure), and a closed stream
  * runs no further page job — the iterator discipline of Spark's own
  * `Dataset.toLocalIterator`. An empty partition, or a first page that
  * rode back with the layout job, costs no page job.
  *
  * Every page carries the partition's computation token: a page whose
  * token differs from this stream's first page means the cached block was
  * lost and recomputed — the stream throws [[PartitionRecomputeException]]
  * rather than risk duplicating or dropping rows across the boundary, and
  * the ticket stays re-fetchable. An offset past the partition's end
  * throws [[FetchOffsetException]] at the first pull.
  *
  * Draining the stream marks the ticket delivered (completion bookkeeping
  * identical to a materialized fetch); any other failed pull fails the job.
  */
final class PartitionRowStream private[gateway] (
    runtime: JobRuntime,
    st: JobState,
    partition: Int,
    fromRow: Long)
  extends Iterator[Row] with AutoCloseable {

  // Set by the first pull: the materialization this stream reads (one per
  // stream, even if the job is released), its page row counts, page 0 when
  // it rode back with the layout job, the page holding row `fromRow` and
  // the rows of that page before it. `k` is the next page to pull.
  private var pages: ResultPages = null
  private var counts: Array[Int] = null
  private var handed: ResultPage = null
  private var first, skip, k = 0
  private var head: ResultPage = null   // pulled, not yet taken
  private var finished = false          // drained, failed or closed: no further page job
  private var delivered = fromRow
  private var rows: Iterator[Row] = Iterator.empty

  /** The partition's computation token as stamped by this stream's FIRST
    * page ([[PartitionRowStream.NO_TOKEN]] until it is in hand; the layout
    * token when the stream needs no page — -1 for an empty partition, no
    * page ever materialized to stamp one). The gateway returns it to the
    * client on the fetch header/ack and compares the echo on an offset
    * resume: a mismatch means the client's kept prefix and this stream's
    * tail come from DIFFERENT computations (recomputed row order is not
    * guaranteed identical), so skip-K would silently splice two orderings
    * (ADVICE r15 high). */
  private var streamToken: Long = PartitionRowStream.NO_TOKEN

  private def recomputed(detail: String) = new PartitionRecomputeException(
    s"result partition $partition of job ${st.jobId} was recomputed $detail; " +
      "refusing to deliver inconsistent rows — re-fetch the ticket")

  /** The next page, pulled under the job; null past the last one. A
    * failure ends the stream, and fails the job unless it leaves the
    * ticket re-fetchable (a fresh stream re-reads the partition
    * self-consistently). */
  private def pull(): ResultPage =
    try st.underJob {
      if (counts == null) {
        pages = st.pages
        val (layoutToken, c, h) = pages.layout(partition)
        val total = c.foldLeft(0L)(_ + _)
        if (fromRow > total)
          throw new FetchOffsetException(s"offset $fromRow beyond partition end ($total rows)")
        // The pages before the one holding `fromRow` are skipped by their
        // counts, never fetched.
        var before = 0L
        while (k < c.length && before + c(k) <= fromRow) { before += c(k); k += 1 }
        counts = c; first = k; skip = (fromRow - before).toInt
        handed = if (k == 0) h else null
        if (k == c.length) streamToken = layoutToken
      }
      if (k == counts.length) null else {
        val page = if (handed != null) handed else pages.page(partition, k)
        handed = null
        if (page == null) throw recomputed(s"with fewer pages than the ${k + 1} it had")
        if (k == first) streamToken = page.token
        else if (page.token != streamToken)
          throw recomputed("mid-stream (cached block lost); page boundaries of the new " +
            "computation may not line up")
        st.maxPageRows.updateAndGet(m => math.max(m, page.rows.toLong))
        val out = if (k > first || skip == 0) page
          else ResultPage(page.token, page.rows - skip, ArrowCodec.dropRows(st.schema, page.bytes, skip))
        k += 1
        out
      }
    } catch {
      case e: Throwable =>
        finished = true
        e match {
          case _: PartitionRecomputeException | _: FetchOffsetException => ()
          case _ => runtime.onFetchFailed(st, e)
        }
        throw e
    }

  /** The next page without taking it, or null once the stream is over. */
  private def peek(): ResultPage = {
    if (head == null && !finished) {
      head = pull()
      finished = head == null
      if (finished) runtime.onPartitionDrained(st, partition, delivered)
    }
    head
  }

  /** Pull the first page (or reach the end): the computation token is
    * stamped, and an unsatisfiable offset has thrown. Returns the token. */
  private[gateway] def start(): Long = { peek(); streamToken }

  /** Take the next page; null once the stream is over. */
  private[gateway] def nextPage(): ResultPage = {
    val page = peek()
    if (page != null) { head = null; delivered += page.rows }
    page
  }

  override def hasNext: Boolean = rows.hasNext || {
    val page = nextPage()
    page != null && { rows = ArrowCodec.readPage(st.schema, page.bytes).iterator; hasNext }
  }

  override def next(): Row = {
    if (!hasNext) throw new NoSuchElementException("partition stream drained")
    rows.next()
  }

  /** Abandon the stream: no further page job runs, nothing is marked
    * delivered (the ticket stays re-fetchable). Draining to the end makes
    * close a no-op. */
  override def close(): Unit = {
    finished = true
    head = null
  }
}

object PartitionRowStream {
  /** The stream's computation token before the first page
    * is in hand. nanoTime can legally be ANY long, but a token is stamped
    * at most once per stream and compared only against tokens of the same
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
  * driver-side control plane — result pages are built and compressed as
  * Arrow on the executors ([[ResultPages]]) and pulled one
  * ≤ `fetchPageSize`-row page at a time through [[PartitionRowStream]], so
  * a 1000-executor cluster streams results without the driver ever
  * holding a whole partition — let alone the whole result set.
  */
final class JobRuntime(
    val spark: SparkSession,
    config: GatewayConfig = GatewayConfig()) extends AutoCloseable {

  private val registry = new ConcurrentHashMap[String, JobState]()

  /** Identity for refresh-on-scan views: [[SnapshotSource]] resolves the
    * live runtime by this id at every scan. */
  val runtimeId: String = UUID.randomUUID().toString
  SnapshotSource.runtimes.put(runtimeId, this)

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

  /** SQL entry (SURVEY §3.1 step 2-5): parse and analyse via Catalyst,
    * register, return the ticketed handle. Nothing is planned or run here:
    * [[JobHandle.tickets]] plans the job, under its group and pool (under
    * AQE that runs the upstream shuffle stages), and the first fetch of a
    * ticket runs the final stage — mirroring the reference's streaming
    * pulls. */
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

  /** Bounded streaming fetch of one result partition, from row `fromRow`.
    * The stream's page jobs run on the pulling thread, under the job's
    * group and FAIR pool ([[JobState.underJob]]). A partition outside the
    * job's tickets is refused here, before any stream exists, so it leaves
    * the job untouched. */
  private[gateway] def rowStream(st: JobState, partition: Int, fromRow: Long): PartitionRowStream = {
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
    if (partition < 0 || partition >= st.numPartitions)
      throw new IllegalArgumentException(
        s"job ${st.jobId} has no partition $partition (tickets 0 until ${st.numPartitions})")
    if (st.firstFetchAtMs < 0) st.firstFetchAtMs = System.currentTimeMillis()
    new PartitionRowStream(this, st, partition, fromRow)
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

  /** The observability views by name: each one's schema and the producer
    * of its rows. [[SnapshotSource]] serves them as refresh-on-scan tables,
    * calling a view's producer on every scan of it. */
  private[gateway] val views: Map[String, (StructType, () => Seq[Row])] = Map(
    // Reference schema, `dist/src/util.rs:148-158`.
    "running_jobs" -> (StructType.fromDDL("job_id STRING NOT NULL, " +
      "created_at TIMESTAMP_LTZ NOT NULL, job_meta STRING NOT NULL, " +
      "stages STRING NOT NULL"), () => runningJobRows()),
    "cluster_nodes" -> (StructType.fromDDL("host STRING NOT NULL, " +
      "port INT NOT NULL, status STRING NOT NULL, total_memory BIGINT NOT NULL, " +
      "free_memory BIGINT NOT NULL, used_storage_memory BIGINT NOT NULL, " +
      "cpu_cores INT NOT NULL, running_tasks INT NOT NULL"), () => clusterNodeRows()),
    "grid_decisions" -> (StructType.fromDDL("site STRING NOT NULL, " +
      "max_bucket INT NOT NULL, grid_b INT NOT NULL, regime STRING NOT NULL, " +
      "recommendation STRING, observed_at TIMESTAMP_LTZ NOT NULL, seq BIGINT NOT NULL"),
      () => gridDecisionRows()),
    "store_occupancy" -> (StructType.fromDDL("store STRING NOT NULL, " +
      "corpus_key STRING NOT NULL, bytes BIGINT NOT NULL, " +
      "last_access_seq BIGINT NOT NULL, count_cap INT NOT NULL, " +
      "bytes_cap BIGINT NOT NULL, evictions BIGINT NOT NULL"),
      () => storeOccupancyRows()))

  /** One of [[views]] as a DataFrame over [[SnapshotSource]]: every query
    * over it re-runs the view's producer. */
  private[gateway] def snapshot(view: String): DataFrame =
    spark.read.format("graft-snapshot").option("runtimeId", runtimeId)
      .option("view", view).load()

  private def registerView(view: String): Unit =
    snapshot(view).createOrReplaceTempView(view)

  /** The job registry: job_id, created_at, job_meta JSON, stages JSON. */
  private def runningJobRows(): Seq[Row] = {
    import graft.Json.jstr
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
      Row(st.jobId, new java.sql.Timestamp(st.createdAtMs), metaJson, stagesJson)
    }
  }

  /** The `running_jobs` observability relation — schema per
    * `dist/src/util.rs:148-158` (job_id, created_at, job_meta JSON, stages
    * JSON), queryable like any other table. Every query over this
    * DataFrame re-reads the registry; [[registerRunningJobsView]] serves
    * the same table to SQL. Like every view here it dies with [[close]]. */
  def runningJobs(): DataFrame = snapshot("running_jobs")

  /** Register `running_jobs` as a refresh-on-scan SQL view: the backing
    * DataSource V2 table re-snapshots this runtime's registry during the
    * planning of EVERY query over the view — exactly the reference's
    * `RunningJobsTable.scan` re-reading the registry per scan
    * (`integration-tests/app/src/table.rs:43-60`). One registration serves
    * the runtime's whole life; the view dies with [[close]]. */
  def registerRunningJobsView(): Unit = registerView("running_jobs")

  /** Decision history, oldest first per site; `seq` is the process-monotonic
    * record order (`observed_at` can tie inside one ms), so a site's latest
    * decision is its max-`seq` row. */
  private def gridDecisionRows(): Seq[Row] =
    graft.Sessions.gridHistory.values.asScala.toSeq.flatten
      .sortBy(o => (o.decision.site, o.seq)).map { o =>
        val d = o.decision
        Row(d.site, d.maxBucket, d.gridB, d.regime, d.recommendation.orNull,
          new java.sql.Timestamp(o.observedAtMs), o.seq)
      }

  /** Register `grid_decisions` — the dedup grids' occupancy-decision
    * registry ([[graft.Sessions.gridHistory]], filled by the query-execution
    * listener from each grid's `observe()` witness) as a refresh-on-scan SQL
    * view, same discipline as `running_jobs`: a dashboard polls
    * `SELECT * FROM grid_decisions WHERE regime <> 'linear'` and sees
    * escalations (and the saturated regime's strategy recommendation) the
    * moment the witness listener records them. The bounded per-site history
    * keeps an escalation that later clears visible to a dashboard that polls
    * less often than queries run. */
  def registerGridDecisionsView(): Unit = registerView("grid_decisions")

  /** One row per live persisted store ([[graft.Tables.storeEntries]]) with
    * its on-disk bytes and LRU access sequence, plus the caps and the
    * eviction counter as constant columns (a grand-total footer that keeps
    * the view one relation). */
  private def storeOccupancyRows(): Seq[Row] = {
    val (cap, bcap, ev) = (graft.Tables.storeCountCap,
      graft.Tables.storeBytesCap, graft.Tables.storeEvictions.get())
    graft.Tables.storeOccupancySnapshot.sortBy(r => (r._1, r._2)).map {
      case (store, key, bytes, seq) => Row(store, key, bytes, seq, cap, bcap, ev)
    }
  }

  /** Register `store_occupancy` — the content-keyed store table as a
    * refresh-on-scan SQL view, so a long-lived gateway's operator
    * polls `SELECT store, count(*), sum(bytes) FROM store_occupancy GROUP
    * BY 1` and watches the LRU budget ([[graft.Tables.storeCountCap]] /
    * [[graft.Tables.storeBytesCap]]) hold as corpora come and go. */
  def registerStoreOccupancyView(): Unit = registerView("store_occupancy")

  /** The `store_occupancy` relation as a DataFrame (the [[runningJobs]]
    * shape) — the socket gateway's `store_occupancy` op reads it, so a
    * remote operator polls the store budget without registering views. */
  def storeOccupancy(): DataFrame = snapshot("store_occupancy")

  /** Executor membership: per-executor cores are the executor conf on a
    * real cluster and the thread count on local[n]. Driver-JVM Runtime
    * values would be wrong on a multi-executor cluster (every row would
    * report driver-local memory/cpu). */
  private def clusterNodeRows(): Seq[Row] = {
    val sc = spark.sparkContext
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
    sc.statusTracker.getExecutorInfos.toSeq.map { e =>
      val total = e.totalOnHeapStorageMemory() + e.totalOffHeapStorageMemory()
      val used = e.usedOnHeapStorageMemory() + e.usedOffHeapStorageMemory()
      Row(e.host(), e.port(), status,
        total, total - used, used,
        coresPerExecutor, e.numRunningTasks())
    }
  }

  /** Cluster/heartbeat observability — the reference's `cluster_nodes`
    * membership table fed by `Heartbeater` upserts
    * (`dist/src/heartbeat.rs:21-73`, `clusters/postgres/src/cluster.rs:
    * 62-193`: NodeId{host,port} + NodeState{status, memory, cpu, running
    * tasks}). Spark maintains the same state natively via executor
    * heartbeats; this surfaces the status tracker's live view as SQL, read
    * afresh by every query. On local[n] there is exactly one row (the
    * driver executor); on a 1000-executor cluster, one per executor. */
  def clusterNodes(): DataFrame = snapshot("cluster_nodes")

  /** Register `cluster_nodes` as a refresh-on-scan SQL view: a gateway that
    * begins shutting down shows as `Terminating` on the next scan. */
  def registerClusterNodesView(): Unit = registerView("cluster_nodes")

  override def close(): Unit = {
    SnapshotSource.runtimes.remove(runtimeId)
    sweeper.shutdownNow()
    registry.values.asScala.toSeq.foreach(st => cleanup(st, JobStatus.Cancelled))
    spark.sparkContext.removeSparkListener(listener)
  }
}
