package graft

/** slt-style corpus layer (SURVEY §5 layer 1, mirroring
  * `integration-tests/tests/sqllogictest.slt:1-301`): every SparkEntry query
  * executes at sf0.001, with exact result checks where the expected relation
  * is scale-independent.
  */
class QueriesSpec extends SparkSpec {

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes") {
      val df = fn(spark, sfDir)
      val n = df.count()
      // q_empty by construction; q_except/q_join_anti are legitimately empty
      // on this data (every nationkey/custkey has a match); dedup/similarity
      // candidate queries may be pairless at tiny sf.
      val mayBeEmpty = Set("q_empty", "q_except", "q_join_anti")
      if (!mayBeEmpty.contains(name) && !name.startsWith("q_dedup") &&
        !name.startsWith("q_ann"))
        assert(n > 0, s"$name returned no rows")
    }
  }

  test("tf-idf and bm25 build their plans without running any data action") {
    // The corpus-size scalar rides a broadcast subframe, not a driver-side
    // count(). The only jobs a build may schedule are parquet schema
    // inference (shared with every bare read of the same table) — so the
    // build's job count must not exceed the baseline of its table reads,
    // and in a footer-warmed session both must be zero-extra.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def measure(f: => Unit): Int = {
      jobs.set(0)
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(1000) } finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    // Baseline: the inference jobs of bare documents reads (2 per query).
    val baseline = measure {
      (1 to 4).foreach(_ => Tables.t(spark, sfDir, "documents").schema)
    }
    val built = measure {
      SparkEntry.queries("q_tfidf_keywords")(spark, sfDir)
      SparkEntry.queries("q_bm25_rank")(spark, sfDir)
    }
    info(s"baseline inference jobs: $baseline, build jobs: $built")
    assert(built <= baseline,
      s"query build scheduled ${built - baseline} job(s) beyond schema inference")
  }

  test("q_asof_chunked is row-identical to q_asof_join") {
    // The bounded-buffer chunked rewrite must match the plain union +
    // running-last form exactly — chunk seams (carry-in across view-less
    // chunks, equal-ts inclusive bounds) are where a rewrite would drift.
    val plain = SparkEntry.queries("q_asof_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val chunked = SparkEntry.queries("q_asof_chunked")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(chunked == plain,
      s"diff: extra=${(chunked -- plain).take(5)} missing=${(plain -- chunked).take(5)}")
  }

  test("q_sessionize_chunked is row-identical to q_sessionize") {
    // The two-level (chunk-local sessions + session-grain seam merge)
    // rewrite must match the single-window form exactly — seams that
    // chain across user-inactive chunks are the risky case.
    val plain = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val chunked = SparkEntry.queries("q_sessionize_chunked")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(chunked == plain,
      s"diff: extra=${(chunked -- plain).take(5)} missing=${(plain -- chunked).take(5)}")
  }

  test("chunked event ops match plain forms on adversarial seam timelines") {
    // The corpus parity tests above use realistic data; this one generates
    // timelines aimed at the chunk seams — events exactly AT midnight
    // chunk boundaries, 1 ns before them, gaps exactly equal to the
    // 30-min session threshold (== is same-session; the split needs >),
    // and multi-day inactive stretches (carry must chain across chunks
    // with no rows). Seeded, so failures reproduce.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val chunkNs = 86400L * 1000L * 1000 * 1000
    val gapNs = 1800L * 1000L * 1000 * 1000
    val base = 1700000000L * 1000L * 1000 * 1000
    for (round <- 0 until 3) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-seam-$round").toString
      val rows = (0L until 4L).flatMap { u =>
        val used = scala.collection.mutable.Set.empty[Long]
        (0 until 150).flatMap { i =>
          var ts = rng.nextInt(4) match {
            case 0 => base + rng.nextInt(10) * chunkNs
            case 1 => base + (1 + rng.nextInt(9)) * chunkNs - 1L
            case 2 => base + math.floorMod(rng.nextLong(), 10 * chunkNs)
            case 3 => base + rng.nextInt(3) * chunkNs + rng.nextInt(50) * gapNs
          }
          while (used.contains(ts)) ts += 1
          used += ts
          val ty = Seq("view", "purchase", "click")(rng.nextInt(3))
          Some((u * 1000 + i, ts, u, ty, 1.0, "{}"))
        }
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      for ((plain, chunked) <- Seq("q_asof_join" -> "q_asof_chunked",
          "q_sessionize" -> "q_sessionize_chunked")) {
        val p = SparkEntry.queries(plain)(spark, dir)
          .collect().map(_.toSeq).toSet
        val c = SparkEntry.queries(chunked)(spark, dir)
          .collect().map(_.toSeq).toSet
        assert(c == p, s"round $round $chunked != $plain: " +
          s"extra=${(c -- p).take(3)} missing=${(p -- c).take(3)}")
      }
    }
  }

  test("chunked event ops hold parity across chunk widths (the tuning knob)") {
    // DefaultChunkNs (1 day) is a tuning choice, not a correctness
    // boundary: the rewrites must be width-invariant. Sweep a narrow (1 h)
    // and a wide (7 d) width — narrow multiplies seams (the risky path),
    // wide collapses most carries into one chunk.
    val plainAsof = SparkEntry.queries("q_asof_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val plainSess = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    for (w <- Seq(3600L * 1000 * 1000 * 1000, 7L * 86400 * 1000 * 1000 * 1000)) {
      val a = operators.EventOps.asofChunkedPlan(spark, sfDir, w)
        .collect().map(_.toSeq).toSet
      assert(a == plainAsof, s"asof at width $w ns: " +
        s"extra=${(a -- plainAsof).take(3)} missing=${(plainAsof -- a).take(3)}")
      val se = operators.EventOps.sessionizeChunkedPlan(spark, sfDir, w)
        .collect().map(_.toSeq).toSet
      assert(se == plainSess, s"sessionize at width $w ns: " +
        s"extra=${(se -- plainSess).take(3)} missing=${(plainSess -- se).take(3)}")
    }
  }

  test("q_select_one returns exactly 1") {
    assert(SparkEntry.queries("q_select_one")(spark, sfDir).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("q_empty returns 0 rows") {
    assert(SparkEntry.queries("q_empty")(spark, sfDir).count() == 0)
  }

  test("q_generate_series is 1..100") {
    val got = SparkEntry.queries("q_generate_series")(spark, sfDir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 100L))
  }

  test("q_join_cross is |region| x |nation| = 125") {
    assert(SparkEntry.queries("q_join_cross")(spark, sfDir).count() == 125)
  }

  test("q_window_range matches the naive global window") {
    // The bucketed+borrowed rewrite must be value-identical to the simple
    // single-partition formulation it replaced.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val naive = Tables.t(spark, sfDir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_orderkey"),
        count(lit(1)).over(
          Window.orderBy(col("o_orderkey")).rangeBetween(-100, Window.currentRow))
          .as("n_near"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = SparkEntry.queries("q_window_range")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == naive)
  }

  test("GROUPS-frame rewrite matches native GROUPS semantics on a fixture") {
    // Neither Spark nor the oracle DuckDB 1.0.0 implements GROUPS frames,
    // so q_window_groups verifies a rewrite against the same rewrite. This
    // test closes the loop: an independent Scala computation of GROUPS
    // BETWEEN 1 PRECEDING AND CURRENT ROW (sum over current + previous peer
    // group) on a fixture with real peer groups (duplicate order dates).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq( // (key, grpOrd, price) — grpOrd has ties = peer groups
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 5.0),
      (4L, 3, 7.0), (5L, 3, 8.0), (6L, 4, 1.0))
    val expected: Map[Long, Double] = {
      val byGrp = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      rows.map { case (k, g, _) =>
        k -> (byGrp(g) + byGrp.getOrElse(g - 1, 0.0))
      }.toMap
    }
    val df = rows.toDF("k", "ord", "price")
    val byOrd = Window.orderBy(col("ord"))
    val byG = Window.orderBy(col("g")).rangeBetween(-1, Window.currentRow)
    val got = df.withColumn("g", dense_rank().over(byOrd))
      .select(col("k"), sum(col("price")).over(byG).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected, s"rewrite diverged from native GROUPS truth: $got vs $expected")
  }

  test("hopping-window HLL error contract holds on every window") {
    // The approx variant's gated output IS the error contract: a
    // per-window boolean |hll - exact| / exact <= HOP_HLL_TOL, with the
    // exact distinct co-computed in the same aggregate (the DuckDB oracle
    // emits trivially-TRUE booleans over exactly-computed windows, so any
    // sketch regression fails the hash gate). This spec asserts the same
    // contract directly plus window-set/event-count parity with the exact
    // variant, so a contract break localizes here before the driver pass.
    val exact = SparkEntry.queries("q_hopping_window")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q_hopping_window_approx_cert")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(approx.keySet == exact.keySet, "window sets must agree")
    exact.foreach { case (w, nEv) =>
      val (aEv, ok) = approx(w)
      assert(aEv == nEv, s"window $w: exact event counts must agree")
      assert(ok, s"window $w: HLL user count drifted past the 2% contract")
    }
  }

  test("the driver's entry-point contract holds: entry() returns rows") {
    // The driver smoke-checks SparkEntry.entry rows>0 before anything
    // else; breaking it should fail HERE, not at driver time (the
    // round-7 testdata drift surfaced exactly that way).
    assert(SparkEntry.entry(spark).count() > 0)
    // Every declared query has a builder, and every oracle key names a
    // declared query — a dangling oracle entry would make the driver's
    // DuckDB pass diverge from the Verify output set.
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("events.ts is normalized to ns-LONG and lead/lag orders by ns") {
    val df = SparkEntry.queries("q_window_lead_lag")(spark, sfDir)
    assert(df.count() > 0)
    assert(Tables.t(spark, sfDir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("query selection: all known names sorted by default, extra known " +
      "names accepted, every unknown name aborts") {
    val known = SparkEntry.queries.keys
    assert(SparkEntry.select(known, Nil) == known.toSeq.sorted)
    assert(SparkEntry.select(known, Seq("q1_agg", "q_tpch_q9", "q1_agg")) ==
      Seq("q1_agg", "q_tpch_q9"))
    // A tool's own builders (ScaleProbe's probe-only ones) are known too.
    val extra = Seq("q_fuzzy_cands_r8")
    assert(SparkEntry.select(known ++ extra, Seq("q_fuzzy_cands_r8", "q1_agg")) ==
      Seq("q1_agg", "q_fuzzy_cands_r8"))
    assert(SparkEntry.select(known ++ extra, Nil).contains("q_fuzzy_cands_r8"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(known, Seq("q_nope", "q1_agg", "q_typo")))
    assert(e.getMessage.contains("q_nope") && e.getMessage.contains("q_typo"), e.getMessage)
    assert(!e.getMessage.contains("q1_agg"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(known, Seq("q_fuzzy_cands_r8")))
  }
}
