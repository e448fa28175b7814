package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: spans of one operation share `query`; `parent` is the
  * span that was open on the same thread when this one started (-1 at the
  * root). */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans in memory (written out once, at the end of the run). While
  * off, it runs the body and records nothing. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, query: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(-1), name, query, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Record an interval measured elsewhere (a Spark planning phase) under
    * an already recorded parent span. */
  def add(name: String, query: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) { spans.add(Span(ids.incrementAndGet(), parent, name, query, startNs, endNs)); () }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: each span's duration minus its children's. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "query" -> Json.str(s.query),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

/** Executor-side work of one group of Spark jobs, from listener events. */
final class GroupWork {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var schedWaitMs = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max/median task time of the worst stage with at least 2 tasks. */
  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def add(o: GroupWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
    inputRows += o.inputRows; inputBytes += o.inputBytes; schedWaitMs += o.schedWaitMs
    o.stageTaskMs.foreach { case (s, ts) => stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }
}

/** Attributes every Spark job to its job group (`spark.jobGroup.id`), and
  * accumulates task metrics and scheduling wait per group. */
final class WorkListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupWork]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobLaunched = ConcurrentHashMap.newKeySet[Int]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)

  private def work(g: String): GroupWork = groups.computeIfAbsent(g, _ => new GroupWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    started.incrementAndGet()
    jobStart.put(e.jobId, (g, e.time))
    e.stageInfos.foreach { si => stageGroup.put(si.stageId, g); stageJob.put(si.stageId, e.jobId) }
    val w = work(g)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    if (job >= 0 && jobLaunched.add(job)) Option(jobStart.get(job)).foreach { case (g, t) =>
      val w = work(g)
      w.synchronized { w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    val w = work(g)
    w.synchronized {
      w.tasks += 1
      w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.inputRows += m.inputMetrics.recordsRead
        w.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Wait (bounded) until every started job has ended on the bus. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (started.get != ended.get && System.currentTimeMillis() < end) Thread.sleep(50)
  }

  def group(g: String): GroupWork = Option(groups.get(g)).getOrElse(new GroupWork)
}

/** Shape of the final adaptive plan, counted after the query ran. */
final case class PlanShape(exchanges: Int, reused: Int, smj: Int, bhj: Int) {
  def +(o: PlanShape): PlanShape =
    PlanShape(exchanges + o.exchanges, reused + o.reused, smj + o.smj, bhj + o.bhj)
}

object PlanShape {
  val zero: PlanShape = PlanShape(0, 0, 0, 0)

  def of(plan: SparkPlan): PlanShape = {
    var ex, re, smj, bhj = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => re += 1
        case other =>
          other match {
            case _: Exchange => ex += 1
            case _: SortMergeJoinExec => smj += 1
            case _: BroadcastHashJoinExec => bhj += 1
            case _ => ()
          }
          other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(ex, re, smj, bhj)
  }
}

/** Planning phases and final plan of every action run on one session,
  * with the wall-clock start of its analysis (to match it to a query). */
final class PlanListener extends QueryExecutionListener {
  import PlanListener.Seen
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seen]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val start = ph.values.map(_._1).minOption.getOrElse(System.currentTimeMillis())
    val shape = try PlanShape.of(qe.executedPlan) catch { case _: Throwable => PlanShape.zero }
    seen.add(Seen(start, ph, shape)); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def within(fromMs: Long, toMs: Long): Seq[Seen] =
    seen.asScala.filter(s => s.startMs >= fromMs && s.startMs <= toMs).toSeq
}

object PlanListener {
  final case class Seen(startMs: Long, phases: Map[String, (Long, Long)], shape: PlanShape)
}

/** Per-layer metric publication shared by the workloads. Every traced run
  * reports every per-layer metric; a layer a workload does not use reads 0. */
object Layers {
  val modules: Seq[String] = Seq("operators", "pipeline")
  val gatewayOnly: Seq[(String, String)] = Seq(
    "client.retries" -> "count", "server.submit_rtt_ms" -> "ms", "server.fetch_ms" -> "ms",
    "server.socket_ms" -> "ms", "runtime.submit_ms" -> "ms", "runtime.tickets_ms" -> "ms",
    "runtime.first_page_ms" -> "ms", "runtime.drain_ms" -> "ms",
    "runtime.page_jobs_per_query" -> "count", "runtime.sched_wait_ms" -> "ms",
    "codec.encode_us_per_row" -> "us", "codec.decode_us_per_row" -> "us",
    "codec.bytes_per_row" -> "B", "codec.batches_per_query" -> "count",
    "self.runtime_ms" -> "ms", "self.codec_ms" -> "ms")

  def zeroModules(r: Report): Unit = {
    for (m <- modules; (k, u) <- moduleMetrics) r.put(s"$m.$k", 0.0, u, 0)
    r.put("self.build_ms", 0.0, "ms", 0)
    r.put("self.exec_ms", 0.0, "ms", 0)
  }

  def zeroGateway(r: Report): Unit = gatewayOnly.foreach { case (k, u) => r.put(k, 0.0, u, 0) }

  val moduleMetrics: Seq[(String, String)] = Seq("build_ms" -> "ms", "build_jobs" -> "count",
    "exec_ms" -> "ms", "tasks" -> "count", "executor_cpu_ms" -> "ms", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "gc_ms" -> "ms", "task_skew" -> "ratio")

  /** Planning phases (median per query) and final-plan counts (per pass). */
  def publishPlans(r: Report, phases: Seq[Map[String, Double]], shapes: Seq[PlanShape],
      passes: Double): Unit = {
    val n = phases.size.toLong
    for (p <- Seq("analysis", "optimization", "planning"))
      r.put(s"plans.${p}_ms", Stats.median(phases.map(_.getOrElse(p, 0.0))), "ms", n)
    val total = shapes.foldLeft(PlanShape.zero)(_ + _)
    val per = math.max(1.0, passes)
    r.put("plans.exchanges", total.exchanges / per, "count", n)
    r.put("plans.reused_exchanges", total.reused / per, "count", n)
    r.put("plans.smj", total.smj / per, "count", n)
    r.put("plans.bhj", total.bhj / per, "count", n)
  }

  def publishTables(r: Report, w: GroupWork, passes: Double): Unit = {
    val per = math.max(1.0, passes)
    r.put("tables.input_rows", w.inputRows / per, "rows", math.round(passes))
    r.put("tables.input_mb", w.inputBytes / per / (1 << 20), "MB", math.round(passes))
  }

  /** The fixed cost of one Spark job (an empty relation through the noop
    * sink) and the CPU canary, medians of five. */
  def publishMachine(r: Report, spark: org.apache.spark.sql.SparkSession): Unit = {
    val floor = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.emptyDataFrame.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    r.put("sessions.floor_ms", Stats.median(floor), "ms", floor.size)
    val canary = (1 to 5).map(_ => Machine.canaryMs())
    r.put("canary_ms", Stats.median(canary), "ms", canary.size)
  }

  /** Record Spark's planning phases of one query as spans, each under the
    * innermost span of that query that was open when the phase started. */
  def attachPhases(t: Tracer, key: String, phases: Map[String, (Long, Long)], offsetNs: Long): Unit =
    if (t.enabled) {
      val mine = t.all.filter(_.query == key)
      phases.foreach { case (name, (s, e)) =>
        val sNs = s * 1000000L + offsetNs
        val eNs = e * 1000000L + offsetNs
        val parent = mine.filter(sp => sp.startNs <= sNs && sNs <= sp.endNs)
          .sortBy(sp => sp.endNs - sp.startNs).headOption.map(_.id).getOrElse(-1)
        t.add(s"plans.$name", key, parent, sNs, math.max(sNs, eNs))
      }
    }
}
