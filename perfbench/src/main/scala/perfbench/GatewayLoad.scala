package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.gateway.{ArrowCodec, GatewayClient}
import org.apache.spark.sql.Row

/** One query shape. The SQL is kept on one line: `GatewayClient` sends it
  * inside a one-line JSON request without escaping newlines. */
final case class Shape(name: String, sql0: String) {
  val sql: String = sql0.trim.split("\\s+").mkString(" ")
}

object Shapes {
  /** Projections returning thousands of rows each, so the result codec,
    * page streaming and the socket dominate while Spark runs one scan. The
    * seed picks the residue each filter keeps. No shape returns a date
    * column: every date column in the test data is TIMESTAMP_NTZ, which the
    * Arrow wire rejects today. */
  def exportShapes(rnd: scala.util.Random): Seq[Shape] = Seq(
    Shape("lineitem_numeric",
      s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
          l_extendedprice, l_discount, l_tax FROM lineitem
          WHERE l_orderkey % 300 = ${rnd.nextInt(300)}"""),
    Shape("orders_rows",
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
          FROM orders WHERE o_orderkey % 75 = ${rnd.nextInt(75)}"""),
    Shape("documents_text",
      s"""SELECT doc_id, lang, source, n_chars, text FROM documents
          WHERE doc_id % 15 = ${rnd.nextInt(15)}"""))
}

/** `export`: 1 closed-loop TCP client fetching large projections, plus an
  * open-loop `SELECT 1` prober on a second connection. Every result is
  * checked, with exact values, against the same SQL collected directly
  * through Spark during warm-up. */
final class GatewayLoad(a: Args, st: Stack, rnd: scala.util.Random, tracer: Tracer,
    report: Report) extends Workload {
  private val shapes = Shapes.exportShapes(rnd)
  private val order = rnd.shuffle(shapes)
  private val probeRate = 5.0
  private val retries = new AtomicLong
  private val refs = mutable.Map.empty[String, (Seq[String], Canon.Digest)]

  private def check(s: Shape, rows: Seq[Row]): Unit = {
    val (names, want) = refs(s.name)
    if (Canon.digest(names, rows.iterator, Canon.Exact) == want) report.outcomes.ok()
    else report.outcomes.wrong(s"${s.name} (${rows.size} rows, expected ${want.rows})")
  }

  def warmup(): Unit = {
    shapes.foreach { s =>
      val df = st.spark.sql(s.sql)
      refs(s.name) = (df.columns.toSeq, Canon.digest(df.columns.toSeq, df.collect().iterator, Canon.Exact))
    }
    val c = st.client(retries)
    try shapes.foreach { s =>
      try check(s, c.fetchAllArrow(s.sql))
      catch { case e: Exception => report.outcomes.error(s.name, e) }
    } finally c.close()
  }

  private final class Window {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val submitMs = mutable.ArrayBuffer.empty[Double]
    val fetchMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var rows = 0L
    var wallS = 0.0
    def ops: Int = latMs.size
  }

  /** One query through the socket: submit, then fetch every ticket over
    * the Arrow wire. Traced, the two round trips are recorded as spans. */
  private def query(c: GatewayClient, s: Shape, w: Window): Unit = {
    val t0 = System.nanoTime()
    try {
      val rows =
        if (!tracer.enabled) c.fetchAllArrow(s.sql)
        else {
          val (job, parts) = tracer.span("client.submit", s.name)(c.submit(s.sql))
          val t1 = System.nanoTime()
          val r = tracer.span("client.fetch", s.name)(
            (0 until parts).flatMap(p => c.fetchPartitionArrow(job, p)))
          w.submitMs += (t1 - t0) / 1e6
          w.fetchMs.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t1) / 1e6
          r
        }
      val ms = (System.nanoTime() - t0) / 1e6
      check(s, rows)
      w.latMs += ms
      w.rows += rows.size
    } catch { case e: Exception => report.outcomes.error(s.name, e) }
  }

  private def window(seconds: Double, publish: Boolean): Window = {
    val w = new Window
    val probeClient = st.client(retries)
    val prober = new Prober(probeRate,
      () => probeClient.fetchAllArrow("SELECT 1") == Vector(Row(1)), report)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    prober.start()
    val c = st.client(retries)
    try {
      // Whole cycles only, so every run samples each shape equally.
      while (System.nanoTime() < deadline) {
        val cycle0 = System.nanoTime()
        order.foreach(s => query(c, s, w))
        w.cycleS += (System.nanoTime() - cycle0) / 1e9
      }
    } finally c.close()
    w.wallS = (System.nanoTime() - t0) / 1e9
    prober.finish()
    probeClient.close()
    if (publish) {
      report.put("query_p50_ms", Stats.median(w.latMs.toSeq), "ms", w.ops)
      report.put("rows_per_s", w.rows / w.wallS, "rows/s", w.ops)
      report.put("round_s", Stats.median(w.cycleS.toSeq), "s", w.cycleS.size)
      prober.publish()
      report.info("query_p95_ms") = f"${Stats.pct(w.latMs.toSeq, 95)}%.3f (n=${w.ops})"
    }
    w
  }

  def measure(): Unit =
    if (!a.trace) { window(a.seconds, publish = true); () }
    else traced()

  /** The traced run: an untraced and a traced socket window (their p50
    * difference is the tracing overhead), then the same shapes through the
    * gateway's public calls in-process, in the server's order, each timed
    * as a span. */
  private def traced(): Unit = {
    val third = a.seconds / 3.0
    val plain = window(third, publish = false)
    tracer.enabled = true
    val tw = window(third, publish = false)
    val layers = new InProcess(st, tracer, report, refs.toMap)
    val deadline = System.nanoTime() + (third * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      layers.pass(rnd.shuffle(shapes))
      passes += 1
    }
    layers.publish(passes)
    val perShape = tw.fetchMs.toSeq.flatMap { case (n, xs) =>
      layers.fetchMs.get(n).map(in => Stats.median(xs.toSeq) - in)
    }
    report.put("server.submit_rtt_ms", Stats.median(tw.submitMs.toSeq), "ms", tw.submitMs.size)
    report.put("server.fetch_ms", Stats.median(tw.fetchMs.values.flatten.toSeq), "ms", tw.ops)
    report.put("server.socket_ms", if (perShape.isEmpty) 0.0 else perShape.sum / perShape.size,
      "ms", perShape.size)
    report.put("client.retries", retries.get.toDouble, "count", tw.ops + plain.ops)
    report.put("trace.overhead_ms",
      Stats.median(tw.latMs.toSeq) - Stats.median(plain.latMs.toSeq), "ms", tw.ops)
    val self = tracer.selfMs
    val q = math.max(1, layers.queries)
    def selfOf(prefix: String) = self.collect { case (k, v) if k.startsWith(prefix) => v }.sum / q
    report.put("self.runtime_ms", selfOf("runtime."), "ms", q)
    report.put("self.codec_ms", selfOf("codec."), "ms", q)
    report.put("self.plans_ms", selfOf("plans."), "ms", q)
    Layers.zeroModules(report)
  }
}

/** The gateway's server-side path driven through its public calls:
  * JobRuntime.submit, JobHandle.tickets, fetchStream (first page, then the
  * drain), ArrowCodec.write into memory, ArrowCodec.read back. */
final class InProcess(st: Stack, tracer: Tracer, report: Report,
    refs: Map[String, (Seq[String], Canon.Digest)]) {
  private val rt = st.runtime.get
  private val sc = st.spark.sparkContext
  private val listener = new WorkListener
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[InProcess.Done]
  private val spanMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val fetchMs = mutable.Map.empty[String, Double]
  private val perShapeFetch = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  var queries = 0

  private def timed[A](name: String, key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(name, key)(body)
    spanMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  def pass(shapes: Seq[Shape]): Unit = shapes.foreach { s =>
    queries += 1
    val key = s"perfbench:${s.name}:$queries"
    sc.setJobGroup(key, key)
    try tracer.span("query", key) {
      // JobRuntime.submit(sql) is spark.sql + submitDataFrame; calling the
      // two halves keeps the DataFrame, whose plan the counts below read.
      val (df, h) = timed("runtime.submit", key) {
        val d = st.spark.sql(s.sql)
        (d, rt.submitDataFrame(d))
      }
      val tickets = timed("runtime.tickets", key)(h.tickets)
      var rows = Vector.empty[Row]
      var bytes, encNs, decNs = 0L
      var batches = 0
      val f0 = System.nanoTime()
      tickets.foreach { t =>
        val stream = timed("runtime.first_page", key) { val s = h.fetchStream(t); s.hasNext; s }
        val part = timed("runtime.drain", key) { try stream.toVector finally stream.close() }
        val e0 = System.nanoTime()
        val bos = new ByteArrayOutputStream()
        tracer.span("codec.encode", key)(ArrowCodec.write(h.schema, part.iterator, bos, 4096))
        val e1 = System.nanoTime()
        val (_, back) = tracer.span("codec.decode", key)(ArrowCodec.read(new ByteArrayInputStream(bos.toByteArray)))
        decNs += System.nanoTime() - e1
        encNs += e1 - e0
        bytes += bos.size
        batches += (part.size + 4095) / 4096
        rows ++= back
      }
      perShapeFetch.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - f0) / 1e6
      val qe = InProcess.executedQe(df)
      val spans = qe.toSeq.flatMap(_.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }).toMap
      Layers.attachPhases(tracer, key, spans, offsetNs)
      val phases = spans.map { case (k, (b, e)) => k -> (e - b).toDouble }
      done += InProcess.Done(key, h.jobId, rows.size, bytes, batches, encNs / 1e6, decNs / 1e6,
        qe.map(q => PlanShape.of(q.executedPlan)).getOrElse(PlanShape.zero), phases)
      val (names, want) = refs(s.name)
      if (Canon.digest(names, rows.iterator, Canon.Exact) == want) report.outcomes.ok()
      else report.outcomes.wrong(s"${s.name} in-process (${rows.size} rows)")
    } catch { case e: Exception => report.outcomes.error(s"${s.name} in-process", e) }
    finally sc.clearJobGroup()
  }

  def publish(passes: Int): Unit = {
    listener.settle()
    perShapeFetch.foreach { case (n, xs) => fetchMs(n) = Stats.median(xs.toSeq) }
    def med(name: String) = Stats.median(spanMs.getOrElse(name, mutable.ArrayBuffer.empty).toSeq)
    val n = done.size.toLong
    report.put("runtime.submit_ms", med("runtime.submit"), "ms", n)
    report.put("runtime.tickets_ms", med("runtime.tickets"), "ms", n)
    report.put("runtime.first_page_ms", med("runtime.first_page"), "ms", n)
    report.put("runtime.drain_ms", med("runtime.drain"), "ms", n)
    report.put("runtime.page_jobs_per_query",
      Stats.median(done.map(d => listener.group(d.jobId).jobs.toDouble).toSeq), "count", n)
    report.put("runtime.sched_wait_ms", Stats.median(done.map { d =>
      (listener.group(d.key).schedWaitMs + listener.group(d.jobId).schedWaitMs).toDouble
    }.toSeq), "ms", n)
    val rows = math.max(1L, done.map(_.rows).sum)
    report.put("codec.encode_us_per_row", done.map(_.encodeMs).sum * 1000 / rows, "us", rows)
    report.put("codec.decode_us_per_row", done.map(_.decodeMs).sum * 1000 / rows, "us", rows)
    report.put("codec.bytes_per_row", done.map(_.bytes).sum.toDouble / rows, "B", rows)
    report.put("codec.batches_per_query", Stats.median(done.map(_.batches.toDouble).toSeq), "count", n)
    Layers.publishPlans(report, done.map(_.phases).toSeq, done.map(_.plan).toSeq, passes)
    val work = new GroupWork
    done.foreach { d => work.add(listener.group(d.key)); work.add(listener.group(d.jobId)) }
    Layers.publishTables(report, work, passes)
    Layers.publishMachine(report, st.spark)
  }
}

object InProcess {
  final case class Done(key: String, jobId: String, rows: Long, bytes: Long,
      batches: Int, encodeMs: Double, decodeMs: Double, plan: PlanShape,
      phases: Map[String, Double])

  /** The query execution the tickets ran. `Dataset.rdd` plans and runs its
    * own (the private `rddQueryExecution`), whose tracker holds the
    * optimization and planning phases and whose adaptive plan is final once
    * the pages are drained; no public call reaches it. None when this
    * Spark version has no such member. */
  def executedQe(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.sql.execution.QueryExecution] =
    try {
      val m = df.getClass.getDeclaredMethod("rddQueryExecution")
      m.setAccessible(true)
      Some(m.invoke(df).asInstanceOf[org.apache.spark.sql.execution.QueryExecution])
    } catch { case _: ReflectiveOperationException => None }
}
