package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.Row

object Corpus {
  /** The library lane's query list, by the module that builds each query. */
  val byModule: Seq[(String, Seq[String])] = Seq(
    "operators" -> Seq("q_tpch_q9", "q_window_rank", "q_asof_chunked", "q1_agg"),
    "pipeline" -> Seq("q_cdc_dedup", "q_dedup_semantic", "q_ann_ivfpq", "q_tfidf_keywords"))
  val queries: Seq[String] = byModule.flatMap(_._2)
  val moduleOf: Map[String, String] = byModule.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
}

/** One timed execution of a corpus query, its job-group key and its
  * wall-clock interval (to match planning events to it). */
final case class Exec(q: String, key: String, ms: Double, buildMs: Double,
    startMs: Long, endMs: Long)

/** `corpus`: graft as a library. One query at a time is built from
  * `SparkEntry` and run through the `noop` sink, pass after pass in a
  * seeded order, while an in-process `SELECT 1` prober runs in its own
  * FAIR pool. The warm-up pass collects every query once and checks its
  * row count and digest against the stored expectation. */
final class CorpusLoad(a: Args, st: Stack, rnd: scala.util.Random, tracer: Tracer,
    report: Report) extends Workload {
  private val spark = st.spark
  private val sc = spark.sparkContext
  private val probeRate = 5.0
  private val expected: Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a.expected)),
      java.nio.charset.StandardCharsets.UTF_8)
    val entry = """"(\w+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*"([0-9a-f]+)"""".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
  private val resultRows = mutable.Map.empty[String, Long]

  def warmup(): Unit = Corpus.queries.foreach { q =>
    try {
      val df = SparkEntry.queries(q)(spark, a.data)
      val d = Canon.digest(df.columns.toSeq, df.collect().iterator, Canon.CorpusDigits)
      resultRows(q) = d.rows
      expected.get(q) match {
        case Some((rows, hash)) if rows == d.rows && hash == d.hex => report.outcomes.ok()
        case Some((rows, _)) => report.outcomes.wrong(s"$q (${d.rows} rows, expected $rows)")
        case None => report.outcomes.wrong(s"$q (no stored expectation)")
      }
    } catch { case e: Exception => report.outcomes.error(q, e) }
  }

  private var seq = 0

  private def exec(q: String): Option[Exec] = {
    seq += 1
    val key = s"perfbench:$q:$seq"
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildMs = 0.0
    try {
      tracer.span("query", key) {
        sc.setJobGroup(key + ":build", q)
        val df = tracer.span("build", key)(SparkEntry.queries(q)(spark, a.data))
        buildMs = (System.nanoTime() - t0) / 1e6
        sc.setJobGroup(key + ":exec", q)
        tracer.span("exec", key)(df.write.format("noop").mode("overwrite").save())
      }
      report.outcomes.ok()
      Some(Exec(q, key, (System.nanoTime() - t0) / 1e6, buildMs, w0, System.currentTimeMillis()))
    } catch { case e: Exception => report.outcomes.error(q, e); None }
    finally sc.clearJobGroup()
  }

  /** Whole passes over the list, each in a fresh seeded order: one per
    * `PassS` seconds of the window, at least one. The count depends only
    * on `seconds`, so every run does the same work whatever the machine's
    * speed, and whole passes keep the mix the prober runs against the
    * same. */
  private def window(seconds: Double, publish: Boolean): Seq[Exec] = {
    val probeSession = spark.newSession()
    val prober = new Prober(probeRate, () => {
      sc.setLocalProperty("spark.scheduler.pool", "perfbench-health")
      probeSession.sql("SELECT 1").collect().toSeq == Seq(Row(1))
    }, report)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = math.max(1, math.round(seconds / CorpusLoad.PassS).toInt)
    val passS = mutable.ArrayBuffer.empty[Double]
    prober.start()
    for (_ <- 1 to passes) {
      val t0 = System.nanoTime()
      rnd.shuffle(Corpus.queries).foreach(q => execs ++= exec(q))
      passS += (System.nanoTime() - t0) / 1e9
    }
    prober.finish()
    if (publish) {
      val perQuery = execs.groupBy(_.q).map { case (q, xs) => q -> Stats.median(xs.map(_.ms).toSeq) }
      val roundMs = perQuery.values.sum
      val n = execs.size.toLong
      report.put("query_p50_ms", Stats.median(perQuery.values.toSeq), "ms", n)
      report.put("rows_per_s", perQuery.keys.map(q => resultRows.getOrElse(q, 0L)).sum / (roundMs / 1000),
        "rows/s", n)
      report.put("round_s", roundMs / 1000, "s", n)
      prober.publish()
      report.info("query_p95_ms") = f"${Stats.pct(execs.map(_.ms).toSeq, 95)}%.3f (n=$n)"
      report.info("pass_s") = passS.map(x => f"$x%.3f").mkString(",")
      report.info("query_ms") = perQuery.toSeq.sorted.map { case (q, ms) => f"$q=$ms%.1f" }.mkString(" ")
    }
    execs.toSeq
  }

  def measure(): Unit =
    if (!a.trace) { window(a.seconds, publish = true); () }
    else traced()

  /** An untraced then a traced window (their p50 difference is the tracing
    * overhead); the traced window's spans, Spark listener events and
    * final plans give the per-layer split. */
  private def traced(): Unit = {
    val work = new WorkListener
    sc.addSparkListener(work)
    val plans = new PlanListener
    spark.listenerManager.register(plans)
    val plain = window(a.seconds / 2.0, publish = false)
    tracer.enabled = true
    val tw = window(a.seconds / 2.0, publish = false)
    work.settle()
    Thread.sleep(500) // let the last QueryExecutionListener events land
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val phases = tw.map { e =>
      val seen = plans.within(e.startMs, e.endMs)
      seen.foreach(s => Layers.attachPhases(tracer, e.key, s.phases, offsetNs))
      (e, seen)
    }
    def workOf(e: Exec): GroupWork = {
      val g = new GroupWork
      g.add(work.group(e.key + ":build")); g.add(work.group(e.key + ":exec"))
      g
    }
    def sum(es: Seq[Exec]): GroupWork = { val g = new GroupWork; es.foreach(e => g.add(workOf(e))); g }
    // Pass equivalents: the window may end inside a pass.
    val per = tw.size.toDouble / Corpus.queries.size
    for ((m, _) <- Corpus.byModule) {
      val mine = tw.filter(e => Corpus.moduleOf(e.q) == m)
      val all = sum(mine)
      val n = mine.size.toLong
      report.put(s"$m.build_ms", mine.map(_.buildMs).sum / per, "ms", n)
      report.put(s"$m.build_jobs", mine.map(e => work.group(e.key + ":build").jobs).sum / per, "count", n)
      report.put(s"$m.exec_ms", mine.map(e => e.ms - e.buildMs).sum / per, "ms", n)
      report.put(s"$m.tasks", all.tasks / per, "count", n)
      report.put(s"$m.executor_cpu_ms", all.cpuNs / 1e6 / per, "ms", n)
      report.put(s"$m.shuffle_write_mb", all.shuffleWriteBytes / per / (1 << 20), "MB", n)
      report.put(s"$m.spill_mb", all.spillBytes / per / (1 << 20), "MB", n)
      report.put(s"$m.gc_ms", all.gcMs / per, "ms", n)
      report.put(s"$m.task_skew", Stats.median(mine.map(workOf(_).skew)), "ratio", n)
    }
    Layers.publishPlans(report,
      phases.map { case (_, seen) =>
        seen.flatMap(_.phases.toSeq).groupBy(_._1).map { case (k, vs) =>
          k -> vs.map { case (_, (s, e)) => (e - s).toDouble }.sum }
      },
      phases.flatMap(_._2.map(_.shape)), per)
    Layers.publishTables(report, sum(tw), per)
    Layers.publishMachine(report, spark)
    val self = tracer.selfMs
    val q = math.max(1, tw.size)
    report.put("self.build_ms", self.getOrElse("build", 0.0) / q, "ms", q)
    report.put("self.exec_ms", self.getOrElse("exec", 0.0) / q, "ms", q)
    report.put("self.plans_ms", self.collect { case (k, v) if k.startsWith("plans.") => v }.sum / q, "ms", q)
    report.put("trace.overhead_ms",
      Stats.median(tw.map(_.ms)) - Stats.median(plain.map(_.ms)), "ms", tw.size)
    Layers.zeroGateway(report)
  }
}

object CorpusLoad {
  /** Window seconds per pass: a pass of the list takes about 9 s on a
    * 4-core machine. */
  val PassS = 10.0
}
