package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** FULL-SUITE multi-JVM parity probe.
  *
  * LocalClusterSpec proves a 20-query slice bit-identical between `local[8]`
  * and `local-cluster[2,4,4096]` (two real executor JVMs) every `sbt test`
  * run. This main extends that claim to the ENTIRE declared suite — every
  * `SparkEntry.queries` entry, i.e. the same corpus the DuckDB correctness
  * gate covers — the closest single-machine analog of the reference running
  * its whole sqllogictest corpus against the 3-node compose
  * (`integration-tests/docker-compose.yaml`,
  * `integration-tests/tests/sqllogictest.rs:28-77`).
  *
  * Protocol (same as LocalClusterSpec's): all queries run on a plain
  * `local[8]` session first (expected answers, canonicalized + hashed),
  * that session stops (one SparkContext per JVM), then a
  * `local-cluster[2,4,4096]` session recomputes everything and each hash
  * must match. Content-keyed parquet stores (shingle index, cluster
  * labels, centroids) are SHARED between the phases by design — they are
  * files on the shared FS, exactly like a persisted store on a real
  * cluster's object storage; what is being proven is that EXECUTION
  * (shuffles, broadcasts, codegen expression serialization, DSv2 writers,
  * mapPartitions codecs, HLL partial merges) is process-count-invariant.
  *
  * Known topology-dependent output: `q_cluster_nodes` reports the live
  * executor set — 1 row on local, 2 on the cluster session. That is the
  * CORRECT answer changing, not a divergence; the probe asserts the
  * expected cluster-side value instead of hash equality.
  *
  * Usage: runMain graft.ClusterParity <sfDir> [onlyQuery...]
  * Prints one JSON line: {"metric":"cluster_parity","queries":N,
  * "matched":N,"topology":["q_cluster_nodes"],"diverged":[...],"sec":...}
  * and exits nonzero on any non-exempt divergence.
  */
object ClusterParity {

  /** Engine-order-free canonical digest: columns sorted by name (the
    * driver's compare discipline), rows rendered and sorted, SHA-256 over
    * the concatenation. Row count folded in so an empty-vs-empty match
    * can't hide a dropped query. */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** Correct-answer-differs-by-topology set (see scaladoc). */
  private val topologyDependent = Set("q_cluster_nodes")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.select(SparkEntry.queries.keys, args.drop(1).toSeq)

    val t0 = System.nanoTime()
    // Phase 1: plain local — 8 threads to match the cluster's 2x4 cores,
    // so shuffle-partition-count-sensitive output (none is known, but the
    // probe must not manufacture a false divergence) is held equal.
    val local = Sessions.local("8")
    val expected = names.map { n =>
      n -> (try Right(digest(SparkEntry.queries(n)(local, sfDir)))
            catch { case e: Throwable => Left(s"local: ${e.getMessage}") })
    }.toMap
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val localSec = (System.nanoTime() - t0) / 1e9

    // Phase 2: two real executor JVMs.
    val t1 = System.nanoTime()
    val cluster = Sessions.start(SparkSession.builder()
      .master("local-cluster[2,4,4096]")
      .config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", Sessions.jdkOpens.mkString(" ")), "8")
    // Launch barrier: both executor JVMs registered and running tasks.
    require(cluster.range(0, 64, 1, 8).count() == 64)
    require(cluster.sparkContext.statusTracker.getExecutorInfos.length == 3,
      "expected driver + 2 executor JVMs")

    var matched, topology = List.empty[String]
    var diverged = List.empty[String]
    names.foreach { n =>
      if (topologyDependent(n)) {
        // q_cluster_nodes returns (status, n_nodes). The cluster session
        // must SEE both executor JVMs: the single 'Available' row's count
        // must be >= 2 (it is 3 here — driver block manager + 2 executors —
        // but the topology CLAIM is "more than the driver", so the gate is
        // the executor floor, with the exact rows echoed on failure).
        // Collected ONCE, inside the same try as everything else — a
        // failed query must not abort the remaining probe loop.
        try {
          val rows = SparkEntry.queries(n)(cluster, sfDir).collect()
          val avail = rows.filter(_.getString(0) == "Available")
          if (avail.length == 1 && avail.head.getLong(1) >= 2) topology ::= n
          else diverged ::= s"$n (topology check failed: ${rows.mkString(";")})"
        } catch { case e: Throwable =>
          diverged ::= s"$n (cluster: ${e.getMessage})"
        }
      } else {
      val got = try Right(digest(SparkEntry.queries(n)(cluster, sfDir)))
                catch { case e: Throwable => Left(s"cluster: ${e.getMessage}") }
      (expected(n), got) match {
        case (Right(e), Right(g)) if e == g => matched ::= n
        case (Right(e), Right(g)) =>
          diverged ::= s"$n (local ${e._1} rows/${e._2.take(12)} vs cluster ${g._1} rows/${g._2.take(12)})"
        case (Left(e), _) => diverged ::= s"$n ($e)"
        case (_, Left(g)) => diverged ::= s"$n ($g)"
      }
      }
    }
    val clusterSec = (System.nanoTime() - t1) / 1e9
    cluster.stop()

    def jarr(xs: List[String]) = xs.reverse.map(Json.jstr).mkString("[", ",", "]")
    println(s"""{"metric":"cluster_parity","queries":${names.size},""" +
      s""""matched":${matched.size},"topology":${jarr(topology)},""" +
      s""""diverged":${jarr(diverged)},""" +
      s""""local_sec":${math.rint(localSec * 10) / 10},""" +
      s""""cluster_sec":${math.rint(clusterSec * 10) / 10},"sf":"$sfDir"}""")
    if (diverged.nonEmpty) sys.exit(1)
  }
}
