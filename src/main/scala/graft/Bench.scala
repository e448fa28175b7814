package graft

import graft.Json.jstr

/** Benchmark main — driver runs this per round at sf0.1 (BENCH_r{N}.json).
  *
  * Methodology (VERDICT.md round-1 fixes):
  *   - every query executes through the `noop` write sink, so all projected
  *     expressions actually run (a bare `count()` lets Catalyst prune the
  *     whole projection and times only the scan);
  *   - one full untimed warmup pass first (JIT, codegen cache, FS cache) —
  *     round-1 `q_select_one` at 3.8 s was pure session warmup;
  *   - failures are recorded per query as -1 with an `errors` map instead of
  *     being silently swallowed;
  *   - the JSON line is the last stdout line, printed after `spark.stop()`,
  *     so log noise can't interleave with it;
  *   - each query is timed at least TWICE and reports the min across
  *     passes (total = sum of mins), with the host's 1-min load average
  *     sampled at pass boundaries (`load_avg_start`/`load_avg_max`) —
  *     round-5's driver numbers were 10-60x off under external machine
  *     load, and round 7's single pre-run sample (1.9) hid a mid-run ramp
  *     that inflated the total 3x;
  *   - the record is SELF-PROTECTING (round-13 verdict #1: the official
  *     record was stamped during an external load storm, +38% on code
  *     that was actually faster): a bounded pre-run quiesce wait, a
  *     per-pass external-CPU-share witness (`ext_load`, via
  *     [[ExtLoadSampler]] — the 1-min load average cannot serve, our own
  *     local[32] run drives it to 3-5 on a quiet machine), up to
  *     [[BenchGate.MAX_PASSES]] passes while every pass reads
  *     contaminated, and a final `gate` verdict ("clean" iff ≥1 pass ran
  *     with external share under [[BenchGate.EXT_LOAD_GATE]]);
  *   - the line carries `cpus`, the session's `defaultParallelism`, so
  *     records taken on different hosts or core counts read apart;
  *   - the official line carries PER-QUERY gc_ms / io_read_mb witness
  *     maps for the slowest queries that fit the driver's stdout budget
  *     (VERDICT r14 missing #2: run-level witnesses only attributed
  *     suite-level effects; per-query attribution needed side runs);
  *   - when run at the driver's sf0.1 scale, a second suite pass runs
  *     against the SfScale-built sf1 decade corpus and writes
  *     `BENCH_r{N}sf1.json` with the full witness column set (VERDICT
  *     r14 next #2: the sf1 record was builder-run, not driver-cadence,
  *     so the decade laws were notes, not gate).
  */
object Bench {

  /** One timed-suite result: per-query (name, minWallSec, gcMsOfMinPass,
    * ioReadMbOfMinPass, firstError), plus the witness columns. */
  private final case class SuiteRecord(
      timed: Seq[(String, Double, Long, Long, Option[String])],
      cpus: Int,
      passCount: Int,
      extLoads: Seq[Double],
      gate: String,
      quiesceWaitS: Double,
      loadStart: Double,
      loadMax: Double,
      gcStart: Long, gcEnd: Long,
      heapStart: Long, heapEnd: Long,
      upStart: Long, upEnd: Long,
      heapLiveStart: Long,
      canaries: Seq[Long])

  import scala.jdk.CollectionConverters._
  private def gcMillis(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def heapUsedMb(): Long = java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
  private def uptimeSec(): Long = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getUptime / 1000
  private def loadNow(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Page-cache witness (r14, containment attribution): /proc/self/io
    * read_bytes counts ACTUAL block-device reads — the bytes the page
    * cache could not serve. A query whose in-suite wall exceeds its
    * isolated wall while its disk_read_mb jumps is paying suite-context
    * cache turnover (245 queries' stores/spills competing for the page
    * cache), not a plan property. -1 when the platform lacks /proc. */
  private[graft] def diskReadBytes(): Long = try {
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("read_bytes:") =>
        l.substring(l.indexOf(':') + 1).trim.toLong }
      .getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  /** CPU-quality canary (r16, VERDICT r15 next #1): a fixed deterministic
    * single-thread integer loop, timed at every pass boundary. The r15
    * ambient smear (same-code gate-clean records spanning 92-146 s with
    * ext_load ~0, GC flat, io 0) was invisible to every existing witness;
    * a pure-CPU loop is blind to Spark, the heap, and the page cache, so
    * its per-pass wall isolates MACHINE-state degradation (frequency/
    * thermal/co-tenant effects below the process-CPU witness's floor).
    * The values ride the official record — a judge comparing rounds can
    * normalize by them, and a smeared pass is visible ON the line. */
  private def canaryMs(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 150000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1000000L
    if (acc == 42L) System.err.println("canary fixed point") // defeat DCE
    dt
  }

  /** Warmup + quiesce + gated min-of-passes timing of `names` against
    * `sfDir`. The self-protection discipline documented on the object. */
  private def runSuite(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, names: Seq[String]): SuiteRecord = {
    def runOnce(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e.getClass.getSimpleName) }

    names.foreach(runOnce) // warmup pass, untimed

    def timeOne(name: String): (Double, Long, Long, Option[String]) = {
      val g0 = gcMillis()
      val io0 = diskReadBytes()
      val t0 = System.nanoTime()
      val err = runOnce(name)
      val io1 = diskReadBytes()
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0,
        if (io0 < 0 || io1 < 0) -1L else (io1 - io0) >> 20, err)
    }

    // Pre-run quiesce (VERDICT r13 next #1): the JVM is idle here (warmup
    // done), so system CPU ≈ external load. Wait — bounded — for the
    // machine to go quiet instead of stamping a record into a known storm.
    val quiesceT0 = System.nanoTime()
    var quiesceWaitMs = 0L
    while (BenchGate.keepQuiescing(quiesceWaitMs, ExtLoadSampler.sysCpuNow())) {
      Thread.sleep(BenchGate.QUIESCE_POLL_MS)
      quiesceWaitMs = (System.nanoTime() - quiesceT0) / 1000000L
    }
    // Forced full GC + settle (r16, VERDICT r15 next #1): the timed passes
    // must not start under whatever garbage the warmup pass happened to
    // leave — r15's separating witness between 92 s and 125 s same-code
    // records was heap_mb_start (1638 vs 2554). Two gc() calls with a
    // settle between them flush the young gen AND the promoted survivors;
    // heapLiveStart records the post-GC LIVE set, a comparable-across-runs
    // witness where heap_mb_start (live + unlucky garbage) was not.
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapLiveStart = heapUsedMb()
    val loadStart = loadNow()
    val (heapStart, upStart, gcStart) = (heapUsedMb(), uptimeSec(), gcMillis())
    // Timed passes, min per query: a transient load spike during one pass
    // doesn't masquerade as a plan property. Two passes baseline; extra
    // passes (to MAX_PASSES) run while EVERY pass reads contaminated OR
    // while the total of per-query mins is still converging (r16: the
    // ambient smear inflates whole passes with ext_load ~0 — a >2% drop
    // from one more pass means the record had not yet seen two
    // comparably-quiet passes; see BenchGate.CONVERGE_FRAC). The canary
    // wall at every pass boundary witnesses raw CPU quality on the line.
    val passes = scala.collection.mutable.ArrayBuffer
      .empty[Map[String, (Double, Long, Long, Option[String])]]
    val extLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Long]
    var loadMax = loadStart
    def minTotal(): Double = names.map { n =>
      passes.map(_(n)).collect { case (sec, _, _, None) => sec }
        .minOption.getOrElse(0.0)
    }.sum
    canaries += canaryMs()
    while (BenchGate.needAnotherPass(extLoads.toSeq, minTotals.toSeq,
        BenchGate.MAX_PASSES)) {
      val sampler = new ExtLoadSampler()
      passes += names.map(n => n -> timeOne(n)).toMap
      extLoads += sampler.stopAndMean()
      minTotals += minTotal()
      canaries += canaryMs()
      loadMax = math.max(loadMax, loadNow())
    }
    val (heapEnd, upEnd, gcEnd) = (heapUsedMb(), uptimeSec(), gcMillis())
    // Per query: the min wall across passes, with the gc/disk witnesses
    // of the pass that SET the min (so the columns describe one run).
    val timed = names.map { n =>
      val runs = passes.map(_(n))
      val (sec, gc, io, _) = runs.minBy(_._1)
      (n, sec, gc, io, runs.flatMap(_._4).headOption)
    }
    SuiteRecord(timed, spark.sparkContext.defaultParallelism, passes.size, extLoads.toSeq,
      BenchGate.verdict(extLoads.toSeq),
      math.rint(quiesceWaitMs / 100.0) / 10,
      loadStart, loadMax, gcStart, gcEnd, heapStart, heapEnd, upStart, upEnd,
      heapLiveStart, canaries.toSeq)
  }

  /** Render a record as the one-line JSON contract. `kept` bounds the
    * per-query WALL map; `detail` bounds the per-query gc_ms/io_read_mb
    * witness maps (always the slowest entries — attribution targets). */
  private def render(r: SuiteRecord, sfDir: String,
      kept: Seq[(String, Double, Long, Long, Option[String])],
      detailN: Int): String = {
    def entry(n: String, sec: Double, err: Option[String]) =
      s"${jstr(n)}:${if (err.isDefined) -1.0 else math.rint(sec * 1000) / 1000}"
    val errs = r.timed.collect {
      case (n, _, _, _, Some(e)) => s"${jstr(n)}:${jstr(e)}"
    }.mkString("{", ",", "}")
    val total = math.rint(
      r.timed.collect { case (_, sec, _, _, None) => sec }.sum * 1000) / 1000
    val extStr = r.extLoads.map(e => math.rint(e * 1000) / 1000)
      .mkString("[", ",", "]")
    val witness =
      s""""gate":${jstr(r.gate)},"ext_load":$extStr,""" +
        s""""quiesce_wait_s":${r.quiesceWaitS},""" +
        s""""gc_total_ms":${r.gcEnd - r.gcStart},"gc_warmup_ms":${r.gcStart},""" +
        s""""heap_mb_start":${r.heapStart},"heap_mb_end":${r.heapEnd},""" +
        s""""heap_live_mb_start":${r.heapLiveStart},""" +
        s""""canary_ms":${r.canaries.mkString("[", ",", "]")},""" +
        s""""uptime_s_start":${r.upStart},"uptime_s_end":${r.upEnd}"""
    val m = kept.sortBy(_._1)
      .map { case (n, sec, _, _, err) => entry(n, sec, err) }
      .mkString("{", ",", "}")
    val det = kept.take(detailN)
    val gc = if (det.isEmpty) "" else det.sortBy(_._1)
      .map { case (n, _, g, _, _) => s"${jstr(n)}:$g" }
      .mkString(""","gc_ms":{""", ",", "}")
    val io = if (det.isEmpty) "" else det.sortBy(_._1)
      .map { case (n, _, _, i, _) => s"${jstr(n)}:$i" }
      .mkString(""","io_read_mb":{""", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","n":${r.timed.size},""" +
      s""""cpus":${r.cpus},"passes":${r.passCount},""" +
      s""""load_avg_start":${math.rint(r.loadStart * 100) / 100},""" +
      s""""load_avg_max":${math.rint(r.loadMax * 100) / 100},$witness,""" +
      s""""queries":$m$gc$io,"errors":$errs,"sf":${jstr(sfDir)}}"""
  }

  /** The round tag for durable artifacts. The driver does not export a
    * round env (every prior driver full-record landed timestamp-named),
    * so when the env is absent, infer the CURRENT round from the driver's
    * own root artifacts: BENCH_r{N} lands at round N's END, so the round
    * being benched is maxBench + 1 — unless the driver already wrote this
    * round's CORRECTNESS_r{N} (it may order verify before bench), in
    * which case that N IS the current round. `max(maxCorr, maxBench + 1)`
    * covers both orders. Falls back to a timestamp when no artifacts
    * exist (fresh checkout dev run). */
  private def roundTag(): String =
    sys.env.get("SPARK_GRAFT_ROUND").orElse(sys.env.get("GRAFT_ROUND"))
      .orElse {
        val cwd = java.nio.file.Paths.get(sys.props("user.dir"))
        val corrRe = "CORRECTNESS_r(\\d+)\\.json".r
        val benchRe = "BENCH_r(\\d+)\\.json".r
        val files = Option(cwd.toFile.list()).toSeq.flatten
        val corr = files.collect { case corrRe(n) => n.toInt }
        val bench = files.collect { case benchRe(n) => n.toInt }
        if (corr.isEmpty && bench.isEmpty) None
        else Some("%02d".format(math.max(
          corr.maxOption.getOrElse(0), bench.maxOption.getOrElse(0) + 1)))
      }
      .getOrElse(java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args: bench only the named queries (dev iteration); an
    // official run passes none and times the full suite.
    val names = SparkEntry.select(SparkEntry.queries.keys, args.toSeq)
    val spark = Sessions.local()

    val rec = runSuite(spark, sfDir, names)

    // The driver captures only the LAST 2000 CHARS of stdout and parses the
    // tail's final line (BENCH_r1-r4 all front-truncated the full per-query
    // map -> parsed:null). Budget the line at 1800 chars: keep the slowest
    // queries' timings (plus `value` = full-suite total and `n` = suite
    // size) and shed the fastest entries until it fits. The gc_ms /
    // io_read_mb witness maps ride the SLOWEST [[DETAIL_N]] kept entries —
    // the attribution targets — shrinking with `kept` so the line never
    // sheds a wall timing to make room for a witness row (VERDICT r14 #3:
    // per-query witnesses belong in the official record, not side runs).
    // Full detail for every query goes to the round-stamped full record.
    val DETAIL_N = 10
    var kept = rec.timed.sortBy(-_._2)
    // Dev runs (explicit query args) carry detail for EVERY named query —
    // an isolated-vs-in-suite witness comparison needs them all.
    def line() = render(rec, sfDir, kept,
      if (args.nonEmpty) kept.size else math.min(DETAIL_N, kept.size))
    while (line().length > 1800 && kept.nonEmpty) kept = kept.init
    val json = line()

    // Only FULL-suite runs write the durable per-query record: a narrowed
    // dev run (explicit query args) would otherwise litter the repo with
    // stamped files carrying one or two queries. Stamp: env round when the
    // invoker set one, else a timestamp — successive unstamped full runs
    // (driver rounds included) never overwrite each other's record. Lands
    // under bench/ (VERDICT r14 stretch: keep the repo root for
    // driver-facing artifacts).
    def writeDurable(name: String, content: String): Unit = try {
      val benchDir = java.nio.file.Paths.get(sys.props("user.dir"), "bench")
      java.nio.file.Files.createDirectories(benchDir)
      java.nio.file.Files.write(benchDir.resolve(name), content.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val fullStamp = sys.env.get("SPARK_GRAFT_ROUND")
      .orElse(sys.env.get("GRAFT_ROUND"))
      .getOrElse(java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")))
    if (args.isEmpty)
      writeDurable(s"bench_full_r$fullStamp.json",
        render(rec, sfDir, rec.timed, rec.timed.size))

    // Driver-cadence sf1 lane (VERDICT r14 next #2): when this IS the
    // driver's per-round run (full suite at sf0.1), run the whole suite
    // against the SfScale-built 10x corpus and stamp BENCH_r{N}sf1.json
    // at the repo root with the same witness + per-query columns — the
    // decade laws become part of the round's gate artifacts, no builder
    // side-run needed. Emit the sf0.1 line FIRST so a mid-sf1 abort (a
    // driver timeout) still leaves the official line as stdout's tail;
    // it is re-printed after spark.stop() as the canonical last line.
    // SPARK_GRAFT_SF1=0 skips; SPARK_GRAFT_SF1 may also name the dir.
    //
    // r16 (VERDICT r15 next #2): the lane runs in a FRESH CHILD JVM.
    // In-process it inherited 26 GB of heap and 1158 s of uptime from the
    // sf0.1 suite — the decade laws were certified under maximal
    // heap-state handicap. The parent builds the corpus, STOPS its own
    // session (frees the 32 local cores and the heap), relaunches this
    // main in a new JVM pointed at the sf1 dir (SPARK_GRAFT_SF1=0 stops
    // recursion), and stamps the child's JSON line. In-process fallback
    // when the classpath cannot relaunch (plain-sbt unforked runs).
    val round = roundTag()
    val sf1Flag = sys.env.getOrElse("SPARK_GRAFT_SF1", "/tmp/sf1")
    if (args.isEmpty && sf1Flag != "0" &&
        new java.io.File(sfDir).getName == "sf0.1") {
      println(json)
      System.out.flush()
      try {
        if (!SfScale.isComplete(spark, sf1Flag))
          SfScale.build(spark, sfDir, sf1Flag)
        val full1 = childSuite(sf1Flag).getOrElse {
          val rec1 = runSuite(spark, sf1Flag, names)
          render(rec1, sf1Flag, rec1.timed, rec1.timed.size)
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(sys.props("user.dir"), s"BENCH_r${round}sf1.json"),
          full1.getBytes("UTF-8"))
        // Timestamped twin under bench/ — a misinferred round tag (ADVICE
        // r15 low: stale artifacts skew the maxCorr/maxBench heuristic)
        // can clobber the root name but never the archive.
        writeDurable(s"bench_sf1_r$fullStamp.json", full1)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 lane failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

    spark.stop()
    println(json)
    System.out.flush()
  }

  /** Relaunch this main in a fresh JVM against `dir` (full suite, no sf1
    * recursion), streaming the child's stderr through and returning its
    * final JSON line. None when the classpath cannot support a relaunch
    * or the child fails — the caller falls back to the in-process lane. */
  private def childSuite(dir: String): Option[String] = try {
    val cp = sys.props("java.class.path")
    // Forked-run classpaths carry the Spark jars; an sbt-launcher-only
    // classpath (unforked dev invocation) cannot boot graft.Bench.
    if (!cp.contains("spark-sql")) return None
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val heapMb = math.max(2048L, Runtime.getRuntime.maxMemory() >> 20)
    val cmd = (Seq(javaBin) ++ Sessions.jdkOpens ++ Seq(
      s"-Xmx${heapMb}m",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, "graft.Bench")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
    pb.environment().put("SPARK_GRAFT_SF1", "0")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val lines = scala.io.Source.fromInputStream(
      proc.getInputStream, "UTF-8").getLines().toVector
    val rc = proc.waitFor()
    if (rc != 0) {
      System.err.println(s"[bench] sf1 child exited $rc")
      None
    } else lines.reverseIterator.find(_.startsWith("{\"metric\""))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] sf1 child launch failed: ${e.getClass.getName}: ${e.getMessage}")
    None
  }
}
