package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory is assembled from the operator modules; every entry with
  * an oracle is hash-checked against DuckDB by the driver (Verify), and the
  * headline subset is timed by Bench.
  */
object SparkEntry {
  /** All verifiable queries, in registration order. */
  val defs: Seq[QueryDef] =
    operators.Relational.all ++ operators.Coverage.all ++ operators.Analytics.all ++
      operators.Tpch.all ++
      operators.EventOps.all ++ operators.Skew.all ++ sources.Sinks.all ++
      gateway.GatewayQueries.all ++ pipeline.TextAnalysis.all ++
      pipeline.Dedup.all ++ pipeline.Similarity.all ++ pipeline.Multimodal.all ++
      pipeline.Sampling.all ++ pipeline.Embeddings.all ++ pipeline.Prep.all ++
      pipeline.Curation.all ++ pipeline.Profiling.all ++ pipeline.Unigram.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.build).toMap

  /** The names a tool runs: every `known` name, sorted, when none is
    * `asked` for, else the asked names, sorted and distinct. Any unknown
    * name aborts: a typo must not exit 0 having run nothing. */
  def select(known: Iterable[String], asked: Seq[String]): Seq[String] = {
    val unknown = asked.distinct.filterNot(known.toSet)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    (if (asked.isEmpty) known.toSeq else asked).distinct.sorted
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
