package graft

import org.apache.spark.sql.SparkSession

/** One place for the session knobs every entry point (Verify, Bench, tests,
  * gateway) must agree on. Mirrors the reference app's config surface
  * (`integration-tests/src/data.rs:16-19`: target_partitions; FAIR-style
  * isolation comes from the scheduler pools here).
  */
object Sessions {

  /** Apply graft's required configs to a session builder.
    *
    * @param cpus parallelism — also used for `spark.sql.shuffle.partitions`
    *             so small-SF local runs don't pay 200-partition scheduling
    *             overhead; at cluster scale this is sized to executor count.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // If events.parquet carries TIMESTAMP(NANOS) (testdata generations
      // drift), Spark 4 otherwise throws PARQUET_TYPE_ILLEGAL; with this
      // flag it reads as ns-LONG, which Tables.t passes through. Harmless
      // for micros-typed data (see Tables.t scaladoc).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // FAIR pools: a CPU-pinned query must not starve health checks
      // (reference `dist/src/executor.rs:26-108`, `tests/exception.rs:96-103`).
      .config("spark.scheduler.mode", "FAIR")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession =
    start(SparkSession.builder().master(s"local[$cpus]"), cpus)

  /** Start (or join) a configured session on any master: WARN logging,
    * the grid witness and the UDAFs, as every entry point needs. */
  def start(b: SparkSession.Builder, cpus: String): SparkSession = {
    val s = configure(b, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerGridWitness(s)
    s
  }

  /** JDK 17 module opens Spark 4 needs outside spark-submit, as JVM flags
    * for a JVM this process launches (a Bench child, a local-cluster
    * executor). Matches build.sbt's `jdk17AddOpens` and
    * `org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()`. */
  val jdkOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** Per-session one-time registration of UDAF-API functions. Codegen
    * expressions register via [[GraftExtensions]] (injectFunction), but the
    * `Aggregator`+`udaf()` path has no extensions hook — it must go through
    * `udf.register`, which WARNs on re-registration. Registering here (once
    * per session, same guard as the grid witness) instead of inside each
    * query build keeps the bench tail free of
    * "replaced a previously registered function" spam. */
  private def registerUdafs(s: SparkSession): Unit =
    s.udf.register("graft_wmean",
      org.apache.spark.sql.functions.udaf(graft.functions.WeightedMean))

  /** Per-session guard: `local()` is called from every entry point but
    * `getOrCreate` returns the shared session — register the occupancy
    * listener once per session, not once per call. */
  // Weak keys: a stopped-and-replaced session must not be pinned for the
  // JVM lifetime just because the witness saw it once. synchronizedSet
  // because WeakHashMap is not thread-safe and local() can race.
  private val gridWitnessed =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Surface the dedup grid's `observe()` occupancy witness
    * ([[graft.pipeline.Dedup.GRID_METRIC_PREFIX]]): any query whose max
    * (band, sig) bucket exceeded GRID_CELL — i.e. the per-bucket block grid
    * actually escalated B > 1 — gets a WARN with the measured occupancy, so
    * hot-bucket skew shows up in logs at runtime rather than only in a
    * scale-probe postmortem. */
  def registerGridWitness(s: SparkSession): Unit =
    if (gridWitnessed.add(s)) {
      registerUdafs(s)
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.grid")
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(pipeline.Dedup.GRID_METRIC_PREFIX) && !row.isNullAt(0)) {
              // Read as Number: a site may observe its max as a Long
              // (containment's max(df) is a count).
              val n = row.getAs[Number](0).intValue // max_bucket_n
              val b = row.getAs[Number](1).intValue // max_grid_b
              Sessions.lastGridOccupancy.put(name, (n, b))
              // B > 1 IS the escalation, whatever the site's cell size
              // (each grid site — simhash/minhash bands, fuzzy grams,
              // semantic clusters — picks its own CELL). The decision
              // layer classifies it under the grid cost model and, in the
              // saturated regime, surfaces the site's strategy escape —
              // structured (registry) and logged, not just a WARN string.
              val d = pipeline.Dedup.gridDecision(name, n, b)
              Sessions.recordGridDecision(name, d)
              d.regime match {
                case "absorbed" =>
                  log.warn(s"$name: hot bucket of $n rows; block grid " +
                    s"escalated to B=$b (${b.toLong * b} cells) — absorbed, " +
                    "per-task pair work stays bounded")
                case "saturated" =>
                  log.error(s"$name: bucket of $n rows drove the grid to " +
                    s"B=$b — this banding is saturated on this corpus. " +
                    d.recommendation.getOrElse(""))
                case _ => ()
              }
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }

  /** Latest observed grid occupancy per metric name — the test hook for the
    * listener above (observed metrics arrive on the listener bus, so specs
    * poll this instead of racing the bus). */
  private[graft] val lastGridOccupancy =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** One recorded grid decision: a process-monotonic sequence number (the
    * total order a dashboard sorts on — wall-clock alone can tie inside
    * one ms) plus the observation wall-clock. */
  private[graft] final case class GridObservation(seq: Long, observedAtMs: Long,
      decision: pipeline.Dedup.GridDecision)

  /** Bounded per-site decision HISTORY (VERDICT r9 next-round #5: the
    * latest-wins map makes an escalation that later clears invisible to a
    * dashboard polling the view). A ring of the last [[GRID_HISTORY_CAP]]
    * observations per site — bounded driver memory on a long-lived
    * gateway however many queries run — exposed `seq`-ordered by the
    * `grid_decisions` DSv2 view. */
  private[graft] val GRID_HISTORY_CAP = 32
  private[graft] val gridHistory = new java.util.concurrent.ConcurrentHashMap[
    String, scala.collection.immutable.Queue[GridObservation]]()
  private val gridSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Current high-water sequence — capture before running a grid-bearing
    * query, then wait for a site observation with a LARGER seq: the
    * arrival test that needs no destructive reset of shared state (the
    * old protocol deleted the site's global entry to detect re-arrival,
    * racing any concurrent reader — ADVICE r9). */
  private[graft] def gridSeqNow: Long = gridSeq.get()

  /** Record a decision: append to the site's bounded history — the SINGLE
    * store (ADVICE r10: a separate latest-wins map updated alongside the
    * history let a concurrent reader momentarily see the two disagree
    * about the current regime). The single write path for the listener
    * and for specs that plant synthetic decisions. */
  private[graft] def recordGridDecision(metric: String,
      d: pipeline.Dedup.GridDecision): GridObservation = {
    val obs = GridObservation(gridSeq.incrementAndGet(),
      System.currentTimeMillis(), d)
    gridHistory.compute(metric, (_, old) => {
      val q = if (old == null) scala.collection.immutable.Queue.empty[GridObservation]
        else old
      (q :+ obs).takeRight(GRID_HISTORY_CAP)
    })
    obs
  }

  /** Latest decision for a site, derived from the history's newest entry
    * (appends happen under the per-key `compute`, so `last` IS max-seq).
    * The strategy router's latest-wins lookup — same source of truth the
    * `grid_decisions` view reads, so they can never disagree. */
  private[graft] def latestGridDecision(
      metric: String): Option[pipeline.Dedup.GridDecision] =
    Option(gridHistory.get(metric)).flatMap(_.lastOption).map(_.decision)

  /** Drop one site's history — spec cleanup hook. */
  private[graft] def clearGridSite(metric: String): Unit = {
    gridHistory.remove(metric)
    ()
  }

  /** Whether [[registerGridWitness]] ran for this session — lets a query
    * that must WAIT for a listener-bus decision fail fast on a session
    * that can never deliver one, instead of stalling out its deadline. */
  private[graft] def hasGridWitness(s: SparkSession): Boolean =
    gridWitnessed.contains(s)
}
