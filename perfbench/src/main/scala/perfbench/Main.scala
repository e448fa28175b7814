package perfbench

import scala.collection.mutable

import graft.{Sessions, Tables}
import graft.gateway.{GatewayClient, GatewayServer, JobRuntime}
import org.apache.spark.sql.{Row, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: String, expected: String, traceDir: String, cpus: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("out"), need("expected"), need("trace-dir"),
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString))
  }
}

/** The serving stack one workload runs against: a Spark session with the
  * tables registered, plus the socket gateway for the gateway workloads. */
final class Stack(val spark: SparkSession, val runtime: Option[JobRuntime],
    val server: Option[GatewayServer]) {
  def port: Int = server.get.boundPort
  def client(retries: java.util.concurrent.atomic.AtomicLong): GatewayClient =
    new GatewayClient("127.0.0.1", () => port,
      sleeper = ms => { retries.incrementAndGet(); Thread.sleep(ms) })
  def close(): Unit = {
    server.foreach(_.close())
    runtime.foreach(_.close())
    spark.stop()
  }
}

object Stack {
  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents")

  /** Start Spark, register the tables, start the gateway (when asked) and
    * answer one `SELECT 1` through the path the workload uses. */
  def start(a: Args, gateway: Boolean): Stack = {
    val spark = Sessions.local(a.cpus)
    Tables.register(spark, a.data, tables: _*)
    if (!gateway) {
      require(spark.sql("SELECT 1").collect().toSeq == Seq(Row(1)), "SELECT 1 failed")
      new Stack(spark, None, None)
    } else {
      val rt = new JobRuntime(spark)
      val srv = new GatewayServer(rt)
      val st = new Stack(spark, Some(rt), Some(srv))
      val c = st.client(new java.util.concurrent.atomic.AtomicLong)
      try require(c.fetchAllArrow("SELECT 1") == Vector(Row(1)), "SELECT 1 failed")
      finally c.close()
      st
    }
  }
}

/** What one run reports: outcomes plus named metrics. */
final class Report {
  val outcomes = new Outcomes
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** A value that is not a number (no samples behind a ratio) would be
    * written as 0, so it makes the run incorrect instead. */
  def put(name: String, value: Double, unit: String, n: Long): Unit = {
    if (value.isNaN || value.isInfinite) outcomes.wrong(s"$name has no value")
    metrics(name) = Metric(value, unit, n)
  }

  def json: String = {
    val ms = metrics.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString))
    }.toSeq
    val errs = outcomes.errorCounts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
    Json.obj(Seq(
      "correct" -> outcomes.correct.toString,
      "attempted" -> outcomes.attempted.toString,
      "failed" -> outcomes.failed.toString,
      "metrics" -> Json.obj(ms),
      "errors" -> Json.obj(errs),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }
}

/** One benchmark run in this JVM: set up (three times, keeping the last
  * stack), warm up, measure for `--seconds`, write the report. */
object Main {
  private val SETUPS = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val gateway = a.workload match {
      case "export" => true
      case "corpus" => false
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = new Report
    val setups = mutable.ArrayBuffer.empty[Double]
    var stack: Stack = null
    for (i <- 1 to SETUPS) {
      if (stack != null) stack.close()
      val t0 = System.nanoTime()
      stack = Stack.start(a, gateway)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val rnd = new scala.util.Random(a.seed)
    val tracer = new Tracer(false)
    val t0 = System.nanoTime()
    val load: Workload =
      if (gateway) new GatewayLoad(a, stack, rnd, tracer, report)
      else new CorpusLoad(a, stack, rnd, tracer, report)
    load.warmup()
    val warmS = (System.nanoTime() - t0) / 1e9
    report.info("setup_stack_s") = setups.map(s => f"$s%.3f").mkString(",")
    report.info("warmup_s") = f"$warmS%.3f"
    if (!a.trace) report.put("setup_s", Stats.median(setups.toSeq) + warmS, "s", setups.size)
    load.measure()
    if (!a.trace) {
      report.put("heap_live_mb", Machine.liveHeapMb(), "MB", 1)
      report.info("rss_peak_mb") = f"${Machine.rssPeakMb()}%.1f"
      report.info("canary_ms") = f"${Machine.canaryMs()}%.3f"
    } else tracer.write(java.nio.file.Paths.get(a.traceDir, s"spans-${a.workload}-seed${a.seed}.json"))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      report.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    stack.close()
    System.exit(0)
  }
}

/** A workload: an untimed warm-up (which also checks outputs) and a timed
  * window of `--seconds`. */
trait Workload {
  def warmup(): Unit
  /** Untraced: the end-to-end metrics. Traced: an untraced then a traced
    * window (the tracing overhead is their difference) and the per-layer
    * metrics. */
  def measure(): Unit
}

/** An open-loop `SELECT 1` prober: probe k is due at start + k/rate and is
  * timed from when it was due, so a stall also counts against the probes
  * queued behind it. */
final class Prober(rate: Double, probe: () => Boolean, report: Report) {
  val latMs = mutable.ArrayBuffer.empty[Double]
  val lateMs = mutable.ArrayBuffer.empty[Double]
  private val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val thread = new Thread(() => {
    val t0 = System.nanoTime()
    var k = 0L
    while (!stop.get) {
      val due = t0 + (k * 1e9 / rate).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      if (!stop.get) {
        lateMs += (System.nanoTime() - due) / 1e6
        try {
          if (!probe()) report.outcomes.wrong("health probe")
          else { report.outcomes.ok(); latMs += (System.nanoTime() - due) / 1e6 }
        } catch { case e: Exception => report.outcomes.error("health probe", e) }
        k += 1
      }
    }
  }, "perfbench-prober")

  def start(): Unit = thread.start()
  def finish(): Unit = { stop.set(true); thread.join() }

  def publish(): Unit = {
    report.put("health_p50_ms", Stats.median(latMs.toSeq), "ms", latMs.size)
    report.info("health_p90_ms") = f"${Stats.pct(latMs.toSeq, 90)}%.3f (n=${latMs.size})"
    report.info("health_late_p50_ms") = f"${Stats.median(lateMs.toSeq)}%.3f"
  }
}
