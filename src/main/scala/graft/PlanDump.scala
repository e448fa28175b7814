package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: run each named query once through the `noop` sink, write the
  * FULL `explain("formatted")` of the plan that ran — the final adaptive
  * plan (`isFinalPlan=true`), not a dump taken before the run — to
  * `<outDir>/<query>.txt`, and print its condensed lines (exchanges,
  * joins, windows, aggregates, scans). The files are the before/after plan
  * artifacts the optimization rounds commit under plans/r{N}/ (plan claims
  * are checked against them without running Spark); the condensed lines
  * are the fast audit of the shape a query plans at scale. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> [queries...]"  (no names = all)
  *
  * Exits non-zero on an unknown name or when any query fails.
  */
object PlanDump {
  private val Interesting =
    Seq("Exchange", "Join", "Window", "Sort", "TakeOrdered", "HashAggregate",
      "CartesianProduct", "Generate", "Scan parquet")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [queries...]")
    val (sfDir, outDir) = (args(0), args(1))
    val names = SparkEntry.select(SparkEntry.queries.keys, args.drop(2).toSeq)
    val spark = Sessions.local()
    gateway.Udfs.register(spark)
    Files.createDirectories(Paths.get(outDir))
    val failed = names.filterNot { q =>
      println(s"=== $q")
      try {
        val qe = executed(spark, sfDir, q)
        Files.write(Paths.get(outDir, s"$q.txt"),
          qe.explainString(FormattedMode).getBytes("UTF-8"))
        condensed(qe).foreach(l => println("  " + l))
        println(s"  wrote $outDir/$q.txt")
        true
      } catch { case e: Throwable =>
        println(s"  ERROR ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Run query `name` once through the `noop` sink and return the
    * QueryExecution of that write: its executed plan is the one that ran,
    * with every adaptive plan final. Leaves the session running. */
  def executed(spark: SparkSession, sfDir: String, name: String): QueryExecution = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      // Any execution the build itself ran (an eager checkpoint, a collect,
      // a write of its own) started before df's plan existed; the noop
      // write's is the first later one. The listener bus is asynchronous.
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      Iterator.continually(seen.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS))
        .map(qe => Option(qe).getOrElse(throw new IllegalStateException(
          s"$name: no listener event for the noop write within 60 s")))
        .find(qe => qe.id > df.queryExecution.id && qe.analyzed.isInstanceOf[V2WriteCommand])
        .get
    } finally spark.listenerManager.unregister(listener)
  }

  /** The lines of the final executed plan that shape its work at scale. */
  def condensed(qe: QueryExecution): Seq[String] =
    qe.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))
      .filter(l => Interesting.exists(l.contains))
      .map(_.trim.take(160)).toSeq
}
