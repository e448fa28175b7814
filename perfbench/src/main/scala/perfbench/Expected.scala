package perfbench

import graft.{Sessions, SparkEntry}

/** Inputs for `make_expected.py`. `oracle` prints the DuckDB oracle SQL of
  * each corpus query that has one; `spark <dataDir>` prints the digest of
  * each corpus query as Spark computes it, for the queries whose oracle
  * cannot finish at this scale. One JSON object per line, in list order. */
object Expected {
  def main(args: Array[String]): Unit = args.head match {
    case "oracle" =>
      Corpus.queries.foreach { q =>
        SparkEntry.oracleSql.get(q).foreach(sql =>
          println(Json.obj(Seq("query" -> Json.str(q), "sql" -> Json.str(sql)))))
      }
    case "spark" =>
      val spark = Sessions.local(Runtime.getRuntime.availableProcessors.toString)
      Corpus.queries.foreach { q =>
        val df = SparkEntry.queries(q)(spark, args(1))
        val d = Canon.digest(df.columns.toSeq, df.collect().iterator, Canon.CorpusDigits)
        println(Json.obj(Seq("query" -> Json.str(q), "rows" -> d.rows.toString,
          "hash" -> Json.str(d.hex))))
      }
      spark.stop()
  }
}
