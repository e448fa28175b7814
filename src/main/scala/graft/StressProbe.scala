package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import graft.gateway.{GatewayClient, GatewayServer, JobRuntime}

/** Concurrency-at-scale probe: drives the REAL socket gateway through
  * [[gateway.GatewayClient]] (handshake -> submit -> per-partition text
  * fetch, transport failures retried and counted) with N concurrent
  * analytical queries against an arbitrary sf directory, and prints one
  * JSON line with the wall and the reference's envelope.
  *
  * The reference's own CI gate is concurrency, not single-query wall —
  * 50 concurrent queries through the gateway in < 180 s
  * (`integration-tests/tests/sqllogictest.rs:28-77`) at its test scale.
  * StressSpec pins that envelope in-process at the test SF every run;
  * this main exists to measure the same shape at a SCALE DECADE (the
  * SfScale-built sf1 directory: 6M lineitem / 1M events / 50k docs),
  * where the interesting failure modes live: FAIR-pool starvation under
  * long stages, driver memory from many live handles, and fetch paging
  * while other jobs execute.
  *
  * Workload: six query shapes (scan-agg, join-agg, window-rank,
  * event-grain agg, text-grain agg, multi-join) assigned round-robin to
  * `nQueries` submissions spread over `nClients` real TCP connections.
  * Results are aggregates (small row counts) so the measured cost is
  * execution + scheduling, not client-side row drain — the reference CI
  * queries have the same property.
  *
  * Usage: runMain graft.StressProbe <sfDir> [nQueries=50] [nClients=25]
  */
object StressProbe {

  private def workload: Seq[String] = Seq(
    // scan-heavy partial/final agg (TPC-H q1 shape)
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       avg(l_extendedprice) AS avg_price, count(*) AS n
       FROM lineitem WHERE l_shipdate <= date'1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
    // shuffle join + agg
    """SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS rev
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment""",
    // window rank inside groups
    """SELECT * FROM (
         SELECT l_suppkey, l_orderkey, l_extendedprice,
                rank() OVER (PARTITION BY l_suppkey
                             ORDER BY l_extendedprice DESC) AS rk
         FROM lineitem) WHERE rk = 1 AND l_suppkey % 100 = 0""",
    // event-grain agg (1M+ rows at sf1)
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
       avg(value) AS avg_v FROM events GROUP BY event_type""",
    // text-grain agg
    """SELECT lang, count(*) AS n, avg(n_chars) AS avg_chars,
       max(n_chars) AS max_chars FROM documents GROUP BY lang""",
    // three-way join with filters (q3 shape)
    """SELECT o_orderpriority, count(*) AS n
       FROM customer JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING' AND l_returnflag = 'R'
       GROUP BY o_orderpriority""")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nQueries = args.lift(1).map(_.toInt).getOrElse(50)
    val nClients = args.lift(2).map(_.toInt).getOrElse(25)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Tables.register(spark, sfDir, "lineitem", "orders", "customer", "supplier",
      "part", "nation", "region", "events", "documents")
    // Warm pass: JIT + parquet footer caches, like Bench's, so the timed
    // window measures concurrency behavior rather than first-touch cost.
    workload.foreach(sql => spark.sql(sql).collect())

    val rt = new JobRuntime(spark)
    val srv = new GatewayServer(rt)
    val rows = new AtomicLong(0)
    // Transport failures the clients retried (each retry is one backoff
    // sleep); an `ok:false` answer is not retried and fails the run.
    val retries = new AtomicLong(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val pool = Executors.newFixedThreadPool(nClients)
    val loadStart = loadAvg()
    val t0 = System.nanoTime()
    try {
      val futs = (0 until nClients).map { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val client = new GatewayClient("127.0.0.1", () => srv.boundPort,
              sleeper = ms => { retries.incrementAndGet(); Thread.sleep(ms) })
            try {
              for (q <- c until nQueries by nClients) {
                val sql = workload(q % workload.size)
                val got = client.fetchAll(sql).size
                require(got > 0, s"query returned no rows: $sql")
                rows.addAndGet(got)
              }
            } catch {
              case e: Throwable => failures.add(s"client $c: ${e.getMessage}")
            } finally client.close()
          }
        })
      }
      futs.foreach(_.get())
      val sec = (System.nanoTime() - t0) / 1e9
      require(failures.isEmpty, s"failures: ${failures.toArray.mkString("; ")}")
      require(rt.liveJobIds.isEmpty, "jobs not cleaned after completion")
      println(s"""{"metric":"stress_gateway","value":${math.rint(sec * 1000) / 1000},""" +
        s""""unit":"sec","queries":$nQueries,"clients":$nClients,""" +
        s""""rows":${rows.get()},"retries":${retries.get()},"envelope_sec":180,""" +
        s""""load_avg_start":${math.rint(loadStart * 100) / 100},""" +
        s""""sf":"$sfDir"}""")
    } finally {
      pool.shutdownNow(); srv.close(); rt.close(); spark.stop()
    }
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
