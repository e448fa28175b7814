package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import org.apache.spark.sql.functions._

/** Property layer (SURVEY §5 plan item 5): randomized invariants of the
  * helper math the pipeline operators rest on (seeded — reproducible). */
class PropertySpec extends AnyFunSuite {
  private val rng = new Random(42)
  private def randomSet(): Set[Int] =
    (0 until (1 + rng.nextInt(40))).map(_ => rng.nextInt(60)).toSet

  test("fib is non-negative-symmetric and matches the additive recurrence") {
    for (_ <- 0 until 200) {
      val n = rng.nextInt(80).toLong
      assert(gateway.Udfs.fib(n) == gateway.Udfs.fib(-n))
      if (n >= 2) assert(gateway.Udfs.fib(n) ==
        gateway.Udfs.fib(n - 1) + gateway.Udfs.fib(n - 2))
    }
  }

  test("jaccard of sets is within [0,1], 1 iff equal, symmetric") {
    for (_ <- 0 until 500) {
      val a = randomSet(); val b = randomSet()
      val i = (a intersect b).size.toDouble
      val j = i / (a.size + b.size - i)
      assert(j >= 0.0 && j <= 1.0)
      assert((j == 1.0) == (a == b))
      assert(j == i / (b.size + a.size - i))
    }
  }

  test("prefix length bound: sets with J >= t share a prefix element") {
    // The invariant q_dedup_ngram's completeness rests on: under any total
    // order, two sets with jaccard >= t intersect within the first
    // n - ceil(t*n) + 1 elements of each. Generate correlated pairs so
    // high-J cases actually occur.
    val t = 0.5
    var highJ = 0
    for (_ <- 0 until 2000) {
      val a = randomSet()
      val b = if (rng.nextBoolean()) {
        // mutate a: drop/add a few elements -> often J >= t
        a.filter(_ => rng.nextDouble() > 0.15) ++ Set(rng.nextInt(60))
      } else randomSet()
      if (a.nonEmpty && b.nonEmpty) {
        val i = (a intersect b).size.toDouble
        val j = i / (a.size + b.size - i)
        if (j >= t) {
          highJ += 1
          val prefA = a.toSeq.sorted.take(a.size - math.ceil(t * a.size).toInt + 1).toSet
          val prefB = b.toSeq.sorted.take(b.size - math.ceil(t * b.size).toInt + 1).toSet
          assert((prefA intersect b).nonEmpty, s"prefix filter would miss ($a, $b)")
          assert((prefB intersect a).nonEmpty)
        }
      }
    }
    assert(highJ > 100, s"test generated too few high-J pairs ($highJ)")
  }

  test("containment prefix bound: C(A,B) >= t pairs share a contained-side prefix element") {
    // The invariant q_dedup_containment's completeness rests on: if
    // |A∩B| >= ceil(t·|A|) then A intersects B within A's first
    // |A| - ceil(t·|A|) + 1 elements under ANY total order — with NO
    // condition on B (the container side has no prefix). t = 0.8 with the
    // all-integer ceil the operator uses: ceil(4n/5) = (4n+4) div 5.
    var highC = 0
    for (_ <- 0 until 2000) {
      val b = randomSet()
      // bias toward high containment: A mostly drawn FROM B
      val a =
        if (rng.nextBoolean())
          b.filter(_ => rng.nextDouble() > 0.3) ++
            (if (rng.nextDouble() < 0.3) Set(rng.nextInt(60)) else Set.empty[Int])
        else randomSet()
      if (a.nonEmpty && b.nonEmpty) {
        val need = (4 * a.size + 4) / 5 // ceil(0.8 * |A|), exactly
        if ((a intersect b).size >= need) {
          highC += 1
          val prefA = a.toSeq.sorted.take(a.size - need + 1).toSet
          assert((prefA intersect b).nonEmpty,
            s"containment prefix filter would miss ($a, $b)")
        }
      }
    }
    assert(highC > 100, s"test generated too few high-containment pairs ($highC)")
  }
  test("PassJoin pigeonhole: ed <= 3 keys always share a (segment, shift <= 1) gram") {
    // The completeness invariant q_fuzzy_join's candidate scheme rests
    // on, in the exact DIRECTION the query checks (the probe side takes
    // shifted substrings, the index side fixed segments): for rpad-20
    // keys within edit distance tau=3, some fixed 5-char segment of the
    // INDEX key appears verbatim in the PROBE key at a start offset
    // within +-floor(tau/2) — the EQUAL-LENGTH bound (both keys are
    // padded to exactly 20 chars, so the alignment's insertions and
    // deletions balance: I = D <= floor(tau/2), and a segment's shift is
    // the net indel count before it). Randomized edits include indels,
    // which shift every later character — the case the window exists for;
    // the generator would catch an unsound window shrink here.
    val tau = 3; val klen = 20; val seg = klen / (tau + 1)
    val shift = tau / 2
    def key(s: String): String = (s.take(klen) + "~" * klen).take(klen)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    def candidateMatch(probe: String, index: String): Boolean =
      (0 to tau).exists { i =>
        val segment = index.substring(i * seg, i * seg + seg)
        (-shift to shift).exists { delta =>
          val start = i * seg + delta
          start >= 0 && start + seg <= klen &&
            probe.substring(start, start + seg) == segment
        }
      }
    val alpha = "abcdefghij"
    var covered = 0
    for (_ <- 0 until 2000) {
      val base = Array.fill(klen)(alpha(rng.nextInt(alpha.length))).mkString
      var t = base
      for (_ <- 0 until 1 + rng.nextInt(3)) {
        val pos = rng.nextInt(math.max(t.length, 1))
        rng.nextInt(3) match {
          case 0 => t = t.updated(pos, alpha(rng.nextInt(alpha.length)))
          case 1 => t = t.take(pos) + alpha(rng.nextInt(alpha.length)) + t.drop(pos)
          case _ if t.length > 1 => t = t.take(pos) + t.drop(pos + 1)
          case _ => ()
        }
      }
      val (ka, kb) = (key(base), key(t))
      if (ka != kb && lev(ka, kb) <= tau) {
        covered += 1
        val (probe, index) = if (ka < kb) (ka, kb) else (kb, ka)
        assert(candidateMatch(probe, index),
          s"pigeonhole violated: probe=$probe index=$index d=${lev(ka, kb)}")
      }
    }
    assert(covered > 1000, s"generator should produce mostly in-radius pairs: $covered")
  }

  test("BPE application: greedy-leftmost fold == island parity (the two engines' forms)") {
    // The Spark side applies a merge as a left-to-right fold
    // (TextAnalysis.bpeLearn); the DuckDB oracle expresses the same
    // function as island parity (every second candidate position within
    // each run of consecutive candidates merges). Both must equal the
    // definitional greedy scan for ALL inputs, including the chained
    // equal-symbol case ("aaaa" + (a,a) -> [aa, aa]) and symbols that
    // collide with merged output (alphabet containing "ab" while merging
    // (a, b)).
    def greedy(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def fold(syms: Vector[String], l: String, r: String): Vector[String] =
      if (syms.length < 2) syms
      else syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
        if (acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
      }
    def islandParity(syms: Vector[String], l: String, r: String): Vector[String] = {
      val cand = (0 until syms.length - 1)
        .filter(i => syms(i) == l && syms(i + 1) == r)
      val keep = cand.zipWithIndex
        .groupBy { case (i, rank) => i - rank } // consecutive runs
        .values.flatMap { isl =>
          val start = isl.map(_._1).min
          isl.collect { case (i, _) if (i - start) % 2 == 0 => i }
        }.toSet
      (0 until syms.length).collect {
        case i if !keep(i - 1) => if (keep(i)) l + r else syms(i)
      }.toVector
    }
    val alphabet = Vector("a", "b", "c", "ab", "ba", "aa")
    for (_ <- 0 until 20000) {
      val syms = Vector.fill(rng.nextInt(12))(alphabet(rng.nextInt(alphabet.length)))
      val l = alphabet(rng.nextInt(alphabet.length))
      val r = alphabet(rng.nextInt(alphabet.length))
      val g = greedy(syms, l, r)
      assert(fold(syms, l, r) == g, s"fold diverged on $syms + ($l,$r)")
      assert(islandParity(syms, l, r) == g, s"parity diverged on $syms + ($l,$r)")
    }
  }
  test("GopherKernel matches a definitional reference on random unicode token arrays") {
    // Independent reference built from the DEFINITION (occurrence map +
    // explicit (count desc, codepoint-length desc, UTF-8-byte-order asc)
    // selection), not from the kernel's run-length mechanics — and with
    // raw JDK primitives (codePointCount, getBytes("UTF-8")) instead of
    // UTF8String, so an ordering or length bug in the kernel's zero-copy
    // views cannot hide in a shared helper.
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def byteLt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    def refTopDup(toks: IndexedSeq[String], n: Int): (Long, Long) = {
      if (toks.size < n) return (0L, 0L)
      val grams = (0 to toks.size - n).map(i => toks.slice(i, i + n).mkString(" "))
      val cnt = grams.groupBy(identity).map { case (g, o) => (g, o.size.toLong) }
      val best = cnt.toSeq.reduceLeft { (a, b) =>
        if (b._2 > a._2 || (b._2 == a._2 && (cp(b._1) > cp(a._1) ||
          (cp(b._1) == cp(a._1) && byteLt(b._1, a._1))))) b else a
      }
      (best._2 * cp(best._1),
        cnt.collect { case (g, c) if c >= 2 => c * cp(g) }.sum)
    }
    def refProfile(toks: IndexedSeq[String], n: Int): (Long, Long, Long) = {
      if (toks.size < n) return (0L, 0L, 0L)
      val grams = (0 to toks.size - n).map(i => toks.slice(i, i + n).mkString(" "))
      val cnt = grams.groupBy(identity).map { case (_, o) => o.size.toLong }
      (grams.size.toLong, cnt.size.toLong, cnt.max)
    }
    val alphabet = IndexedSeq("", "a", "b", "ab", "ba", "aa b", "é",
      "𐀀" /* U+10000 */, "￿", "z￿", "𐀀z")
    val rng = new Random(4242)
    for (_ <- 0 until 500) {
      val toks = IndexedSeq.fill(rng.nextInt(13))(alphabet(rng.nextInt(alphabet.size)))
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val row = functions.GopherKernel.compute(arr)
      assert(row != null)
      val want = Seq(2 -> 0, 3 -> 1, 4 -> 2).map { case (n, i) =>
        (refTopDup(toks, n)._1, row.getLong(i))
      } ++ Seq(5 -> 3, 10 -> 4).map { case (n, i) =>
        (refTopDup(toks, n)._2, row.getLong(i))
      }
      want.foreach { case (ref, got) => assert(ref == got, s"toks=$toks: $want") }
      for (n <- Seq(1, 2, 3, 5)) {
        val p = functions.GopherKernel.profile(arr, n)
        val (m, dst, top) = refProfile(toks, n)
        assert(p.getLong(0) == m && p.getLong(1) == dst && p.getLong(2) == top,
          s"profile n=$n toks=$toks: got (${p.getLong(0)}, ${p.getLong(1)}, ${p.getLong(2)}) want ($m, $dst, $top)")
      }
    }
    // Null token slot -> null result (the graft_cosine convention).
    val withNull = new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), null, UTF8String.fromString("b")))
    assert(functions.GopherKernel.compute(withNull) == null)
    assert(functions.GopherKernel.profile(withNull, 2) == null)
  }

  test("WinnowKernel deque selection equals brute force under heavy ties") {
    // The r13 monotonic-deque rewrite's edge cases — long equal runs,
    // strictly decreasing sequences, duplicate minima re-entering later
    // windows — with values drawn from a TINY range so ties dominate
    // (the corpus differential in FunctionsSpec can't force these).
    // Brute force: rightmost minimum per window (strict < right-to-left
    // keeps the first seen = rightmost), first-occurrence dedup on
    // (pos, hash).
    def brute(hs: Array[Long], w: Int): Seq[(Long, Long)] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      for (j <- 0 to hs.length - w) {
        var best = hs(j + w - 1); var bp = j + w - 1
        for (k <- (j + w - 2) to j by -1)
          if (hs(k) < best) { best = hs(k); bp = k }
        out += (((bp + 1).toLong, best))
      }
      out.toSeq
    }
    val rng = new Random(13)
    def kernel(hs: Array[Long], w: Int): Seq[(Long, Long)] = {
      val r = functions.WinnowKernel.select(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          hs.map(Long.box)), w)
      (0 until r.numElements()).map { i =>
        val row = r.getStruct(i, 2)
        (row.getLong(0), row.getLong(1))
      }
    }
    for (trial <- 0 until 2000) {
      val m = 1 + rng.nextInt(24)
      val range = 1 + rng.nextInt(4) // tiny value range => dense ties
      val hs = Array.fill(m)(rng.nextInt(range).toLong)
      val w = 1 + rng.nextInt(m)
      assert(kernel(hs, w) == brute(hs, w),
        s"trial $trial: hs=${hs.mkString(",")} w=$w")
    }
    // The named pathologies explicitly:
    assert(kernel(Array(3L, 3L, 3L, 3L, 3L), 2) == brute(Array(3L, 3L, 3L, 3L, 3L), 2))
    assert(kernel(Array(5L, 4L, 3L, 2L, 1L), 3) == brute(Array(5L, 4L, 3L, 2L, 1L), 3))
    assert(kernel(Array(1L, 9L, 9L, 1L, 9L, 9L, 1L), 3) ==
      brute(Array(1L, 9L, 9L, 1L, 9L, 9L, 1L), 3))
  }
}

/** Spark-backed equivalence check for the salting utilities. */
class SkewSpec extends SparkSpec {
  import graft.operators.Skew

  test("saltedAggregate equals direct groupBy on a skewed key") {
    // 90% of rows share one key — the shape salting exists for.
    val df = spark.range(0, 100000)
      .select(when(col("id") % 10 === 0, col("id") % 7).otherwise(0L).as("k"),
        col("id").as("v"))
    val direct = df.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = Skew.saltedAggregate(df, Seq(col("k")), 16,
      partials = Seq(sum(col("v")).as("ps"), count(lit(1)).as("pn")),
      merge = Seq(sum(col("ps")).as("s"), sum(col("pn")).as("n")))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The runtime half of skew mitigation (salting is the write-side
    // half): one hot key dominates the left side; with skew thresholds
    // scaled to the spec corpus, AQE's OptimizeSkewedJoin must split the
    // hot partition instead of letting one task drag the stage.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // 200k rows on ONE key vs 2k spread keys; right side small but
      // non-broadcast (threshold disabled) so the join must shuffle.
      val left = spark.range(0, 202000)
        .select(when(col("id") < 200000, 7L).otherwise(col("id") % 97).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() drives THIS Dataset's QueryExecution (count() would spawn
      // a fresh one and leave this AQE plan unexecuted).
      assert(joined.collect().length == 202000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("AQEShuffleRead skewed"),
        s"no skew split in final AQE plan:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("hash split is deterministic, total, and balanced near 80/10/10") {
    // The q_sample_split assignment function, as pure math: every id lands
    // in exactly one split, rerunning changes nothing, and over a dense id
    // range the empirical mix is near the configured 80/10/10.
    def split(id: Long): String = {
      val b = (id * 40503L) % 65536L % 10L
      if (b < 8) "train" else if (b == 8) "valid" else "test"
    }
    val ids = (0L until 20000L).toSeq
    val first = ids.map(split)
    assert(ids.map(split) == first) // deterministic
    val frac = first.groupBy(identity).view.mapValues(_.size / 20000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.02, s"train ${frac("train")}")
    assert(math.abs(frac("valid") - 0.1) < 0.02, s"valid ${frac("valid")}")
    assert(math.abs(frac("test") - 0.1) < 0.02, s"test ${frac("test")}")
  }

  test("simhash pair-banding pigeonhole: hamming <= 6 pairs share a clean chunk PAIR") {
    // The q_dedup_simhash candidate guarantee at SIMHASH_RADIUS = 6: any
    // <= 6 bit flips dirty at most 6 of the 8 chunks, so >= 2 chunks stay
    // clean and at least one of the C(8,2) 16-bit pair bands matches
    // exactly. Random fingerprints, randomly planted <= 6-bit flips.
    val rng = new scala.util.Random(42)
    def chunk(v: Long, c: Int): Long = (v >>> (c * 8)) & 0xFFL
    for (_ <- 0 until 2000) {
      val a = rng.nextLong()
      val flips = rng.nextInt(7) // 0..6 bit flips
      val b = (0 until flips).foldLeft(a)((x, _) => x ^ (1L << rng.nextInt(64)))
      val shared = (for { c1 <- 0 until 8; c2 <- c1 + 1 until 8 } yield (c1, c2))
        .exists { case (c1, c2) =>
          chunk(a, c1) == chunk(b, c1) && chunk(a, c2) == chunk(b, c2) }
      assert(shared,
        f"hamming=${java.lang.Long.bitCount(a ^ b)} pair shares no clean chunk pair: $a%x vs $b%x")
    }
  }

  test("radius 7 would void the pair-banding guarantee (why the contract is 6)") {
    // 7 flips, one per chunk across 7 chunks: only one chunk stays clean,
    // so NO pair of clean chunks exists — the concrete evasion that forces
    // radius and banding to move in lockstep.
    val a = 0L
    val b = (0 until 7).foldLeft(a)((x, c) => x ^ (1L << (c * 8)))
    assert(java.lang.Long.bitCount(a ^ b) == 7)
    def chunk(v: Long, c: Int): Long = (v >>> (c * 8)) & 0xFFL
    val shared = (for { c1 <- 0 until 8; c2 <- c1 + 1 until 8 } yield (c1, c2))
      .exists { case (c1, c2) =>
        chunk(a, c1) == chunk(b, c1) && chunk(a, c2) == chunk(b, c2) }
    assert(!shared, "a 7-flip pair evading every pair band must exist")
  }

  test("grid occupancy witness trips on a hot band bucket (B escalates)") {
    // VERDICT r7 residual: the block grid raised B from a window count but
    // nothing MEASURED bucket occupancy at runtime. A corpus of identical
    // docs puts all n docs in one (band, sig) bucket of every band; with
    // n > GRID_CELL the observe() witness must report the occupancy and
    // the escalated B, and the Sessions listener must have seen it.
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-hotbucket").toFile
    dir.deleteOnExit()
    val n = Dedup.GRID_CELL + 76
    val text = "the quick brown fox jumps over the lazy dog"
    spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit(text).as("text"), lit("en").as("lang"),
        lit("hot").as("source"), lit(text.length.toLong).as("n_chars"))
      .coalesce(1)
      .write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    Sessions.lastGridOccupancy.clear()
    SparkEntry.queries("q_dedup_simhash")(spark, dir.getAbsolutePath)
      .write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var m: (Int, Int) = null
    while (m == null && System.nanoTime() < deadline) {
      m = Sessions.lastGridOccupancy.get(Dedup.GRID_METRIC_PREFIX + "simhash")
      if (m == null) Thread.sleep(50)
    }
    assert(m != null, "grid occupancy metric never arrived on the listener bus")
    assert(m._1 == n, s"max bucket should be the whole hot corpus: $m")
    val expectB = math.ceil(n.toDouble / Dedup.GRID_CELL).toInt
    assert(m._2 == expectB, s"grid should escalate to B=$expectB: $m")
    // The witness now DECIDES, not just warns: the hot corpus must have
    // produced a structured `absorbed` decision (grid handled it; no
    // strategy switch recommended at B=2).
    val d = Sessions.latestGridDecision(Dedup.GRID_METRIC_PREFIX + "simhash").orNull
    assert(d != null, "no structured grid decision was recorded")
    assert(d.regime == "absorbed" && d.maxBucket == n && d.gridB == expectB
      && d.recommendation.isEmpty, s"wrong decision: $d")
    // And the escalated grid still computes the exact answer: n identical
    // docs => all C(n,2) pairs at J = 1.0.
    val cnt = SparkEntry.queries("q_dedup_simhash")(spark, dir.getAbsolutePath).count()
    assert(cnt == n.toLong * (n - 1) / 2,
      s"escalated grid changed the answer: $cnt pairs")
  }

  test("grid decisions: linear on the gate corpus, saturated names the escape") {
    import graft.pipeline.Dedup
    // End-to-end: the normal corpus stays in the `linear` regime and the
    // simhash output is identical with the decision layer active (it is
    // pure observation — PipelineSpec separately pins output == all-pairs
    // truth on this corpus).
    Sessions.gridHistory.clear()
    Sessions.lastGridOccupancy.clear()
    // A warm strategy-pair store would serve the banding's OUTPUT without
    // running the banding (r13) — evict so this run re-derives and the
    // grid witness actually fires.
    Dedup.evictStrategyStores()
    // Watermark, then scan the HISTORY for this run's decision rather than
    // polling latest-wins: the hot-corpus test right before this one ends
    // with a count() whose decision event is still in flight on the async
    // listener bus, and under load it can land AFTER the clear — a
    // latest-wins poll then reads absorbed@1100 (impossible for this
    // corpus) and fails spuriously. The gate run is the only thing that
    // can append a LINEAR observation past the watermark.
    val w = Sessions.gridSeqNow
    SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var d: Dedup.GridDecision = null
    while (d == null && System.nanoTime() < deadline) {
      d = Option(Sessions.gridHistory.get(Dedup.GRID_METRIC_PREFIX + "simhash"))
        .toSeq.flatten
        .find(o => o.seq > w && o.decision.regime == "linear")
        .map(_.decision).orNull
      if (d == null) Thread.sleep(50)
    }
    assert(d != null && d.regime == "linear" && d.recommendation.isEmpty,
      s"gate corpus must not escalate: $d")
    // Unit face of the cost model (a `saturated` corpus would have to
    // emit >5e8 pairs end-to-end — assert the thresholds directly).
    val sat = Dedup.gridDecision(Dedup.GRID_METRIC_PREFIX + "simhash",
      (Dedup.GRID_SATURATION_B + 1) * Dedup.GRID_CELL, Dedup.GRID_SATURATION_B + 1)
    assert(sat.regime == "saturated" &&
      sat.recommendation.exists(_.contains("MinHash")),
      s"saturated simhash must recommend the minhash escape: $sat")
    val edge = Dedup.gridDecision(Dedup.GRID_METRIC_PREFIX + "simhash",
      Dedup.GRID_SATURATION_B * Dedup.GRID_CELL, Dedup.GRID_SATURATION_B)
    assert(edge.regime == "absorbed", s"B at the cap is still absorbed: $edge")
    val sem = Dedup.gridDecision(Dedup.GRID_METRIC_PREFIX + "semantic", 100000, 64)
    assert(sem.recommendation.exists(_.contains("sqrt(N)")),
      s"saturated semantic must recommend adaptive-k: $sem")
  }

  test("sorted-neighborhood candidates stay N*W on the fully saturated corpus") {
    // The corpus where every content-keyed blocking strategy degenerates:
    // n identical docs put ALL pairs in one bucket (exhaustive/banded
    // candidate mass = C(n,2) ~ n²/2). Sorted-neighborhood's candidate
    // set is rank-adjacency — exactly min(W, n-1-i) pairs per rank i,
    // content-independent — so its output here must be exactly that
    // bounded set, every pair at J = 1.0. This is the third regime
    // escape the grid registry's story names: a hard O(N*W) floor no
    // content regime can inflate.
    val dir = java.nio.file.Files.createTempDirectory("graft-snsat").toFile
    dir.deleteOnExit()
    val n = 300
    val text = "the quick brown fox jumps over the lazy dog"
    spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit(text).as("text"), lit("en").as("lang"),
        lit("hot").as("source"), lit(text.length.toLong).as("n_chars"))
      .coalesce(1)
      .write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val rows = SparkEntry.queries("q_dedup_sorted_neighborhood")(
      spark, dir.getAbsolutePath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Identical lengths: rank order == doc_id order; window W=8.
    val expect = (for {
      i <- 1 to n; k <- 1 to 8 if i + k <= n
    } yield (i.toLong, (i + k).toLong, 1000000L)).toSet
    assert(rows.toSet == expect,
      s"saturated-corpus SN diverged: got ${rows.length}, want ${expect.size}")
    assert(rows.length <= n * 8, "candidate bound violated")
  }

  test("q_dedup_auto routes on the saturated decision and keeps the answer") {
    import graft.pipeline.Dedup
    val metric = Dedup.GRID_METRIC_PREFIX + "simhash"
    // Default route (registry clear / linear): the SimHash path. The
    // served plan is a store scan whatever the route (r13 per-strategy
    // pair stores), so the route is asserted on WHICH store the run
    // builds, starting from an empty store family.
    Sessions.clearGridSite(metric)
    Dedup.evictStrategyStores()
    val w = Sessions.gridSeqNow
    val defRows = SparkEntry.queries("q_dedup_auto")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Dedup.storedStrategies(sfDir) == Set("simhash"),
      "default route should have built (only) the simhash store")
    // That run's store build ran the simhash banding, whose own (linear)
    // decision is still in flight on the async listener bus — let it LAND
    // before seeding, or it would overwrite the seeded saturation
    // (latest-wins) and the router would spuriously take the simhash path
    // again.
    val drainDl = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!Option(Sessions.gridHistory.get(metric)).toSeq.flatten
        .exists(_.seq > w) && System.nanoTime() < drainDl)
      Thread.sleep(50)
    // Seed a saturated decision: the router must take the documented
    // escape (MinHash banding — no hamming filter in the plan)...
    Sessions.recordGridDecision(metric,
      Dedup.GridDecision("simhash", 50000, 64, "saturated", Some("minhash")))
    try {
      // The escape run must have built the minhash store alongside the
      // default run's simhash store — two routes, two stores.
      SparkEntry.queries("q_dedup_auto")(spark, sfDir)
      assert(Dedup.storedStrategies(sfDir) == Set("simhash", "minhash"),
        "saturated route should have built the minhash store")
      // ...and the switch can only IMPROVE completeness: both strategies
      // end in the same exact-Jaccard verification (identical precision),
      // and minhash's candidate recall dominates — it is blind to nothing
      // simhash sees, while simhash's tf-weighted radius misses
      // tf-divergent near-dups. This corpus proves the strict case: it
      // carries real J >= 0.5 pairs outside hamming radius 6 (the
      // documented blind spot), which the escape route finds.
      val escRows = SparkEntry.queries("q_dedup_auto")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(defRows.subsetOf(escRows),
        s"the escape route lost pairs: ${defRows -- escRows}")
      assert((escRows -- defRows).nonEmpty,
        "this corpus should exhibit simhash's tf blind spot (see scaladoc)")
    } finally Sessions.clearGridSite(metric)
  }

  test("autoRoute: the minhash site's saturation routes to digest-prefix " +
    "sharding (unit)") {
    import graft.pipeline.Dedup.autoRoute
    assert(autoRoute(None, None) == "simhash")
    assert(autoRoute(Some("linear"), Some("linear")) == "simhash")
    assert(autoRoute(Some("absorbed"), None) == "simhash")
    assert(autoRoute(Some("saturated"), None) == "minhash")
    assert(autoRoute(Some("saturated"), Some("linear")) == "minhash")
    assert(autoRoute(Some("saturated"), Some("absorbed")) == "minhash")
    // Both banding strategies saturated: the only remaining escape is the
    // sharded route.
    assert(autoRoute(Some("saturated"), Some("saturated")) == "minhash_sharded")
    // A saturated minhash observation alone doesn't change the default
    // route — the router only reaches the minhash family via simhash's
    // escape.
    assert(autoRoute(None, Some("saturated")) == "simhash")
  }

  test("q_dedup_auto takes the sharded route when BOTH banding sites are " +
    "saturated") {
    import graft.pipeline.Dedup
    val sim = Dedup.GRID_METRIC_PREFIX + "simhash"
    val mh = Dedup.GRID_METRIC_PREFIX + "minhash"
    Sessions.recordGridDecision(sim,
      Dedup.GridDecision("simhash", 50000, 64, "saturated", Some("minhash")))
    Sessions.recordGridDecision(mh,
      Dedup.GridDecision("minhash", 80000, 96, "saturated", Some("shard")))
    try {
      // The sharded plan is recognizable by its own grid-metric site.
      val plan = SparkEntry.queries("q_dedup_auto")(spark, sfDir)
        .queryExecution.analyzed.toString
      assert(plan.contains("minhash_sharded"),
        "double-saturated route should be the sharded minhash path")
      // On the gate corpus (no saturated bucket) the sharded route's
      // output equals the fixed minhash strategy's — routing under a
      // stale/planted decision can only be a no-op here, never wrong.
      val viaAuto = SparkEntry.queries("q_dedup_auto")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val plain = Dedup.minhashPairs(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaAuto == plain, "sharded route diverged on a normal corpus")
    } finally {
      Sessions.clearGridSite(sim)
      Sessions.clearGridSite(mh)
    }
  }

  test("minhash sharding: parity with the plain strategy on the normal " +
    "corpus, by construction") {
    import graft.pipeline.Dedup
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(Dedup.minhashPairsSharded(spark, sfDir)) ==
      pairs(Dedup.minhashPairs(spark, sfDir)),
      "no saturated bucket => the sharded pipeline must be IDENTICAL")
  }

  test("minhash sharding de-quadratizes a saturated near-dup clique and " +
    "keeps it one cluster") {
    import graft.pipeline.Dedup
    // A giant template-duplicate cluster: 24 docs sharing a 60-token base
    // with one unique tail token each (J ~ 0.9 clique, DISTINCT digests —
    // exact duplicates would co-shard and prove nothing), plus unrelated
    // docs that must stay outside every pair. satBucket is forced tiny so
    // the spec exercises the saturated path without a 32k-doc corpus.
    val dir = java.nio.file.Files.createTempDirectory("graft-shardsat").toFile
    dir.deleteOnExit()
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val clique = (1 to 24).map(i => (i.toLong, s"$base unique$i"))
    val noise = (25 to 36).map(i =>
      (i.toLong, (1 to 40).map(j => s"alien${i}_$j").mkString(" ")))
    import spark.implicits._
    (clique ++ noise).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(Dedup.minhashPairs(spark, dir.getAbsolutePath))
    assert(plain == (for { a <- 1L to 24L; b <- a + 1 to 24L } yield (a, b)).toSet,
      "premise: the clique should be complete under plain minhash")
    val sharded = pairs(Dedup.minhashPairsSharded(spark, dir.getAbsolutePath,
      nShards = 4, satBucket = 4))
    // De-quadratized: strictly fewer emitted pairs than the all-pairs
    // clique...
    assert(sharded.size < plain.size,
      s"sharding should bound pair mass: ${sharded.size} vs ${plain.size}")
    assert(sharded.nonEmpty && sharded.subsetOf(plain),
      "sharded pairs must be true clique pairs (same exact-Jaccard verify)")
    // ...while the CLUSTER structure survives: intra-shard pairs plus
    // representative links keep all 24 docs in one connected component.
    val parent = scala.collection.mutable.Map((1L to 24L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    sharded.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((1L to 24L).map(find).toSet.size == 1,
      "the saturated clique must remain a single connected component")
  }

  test("fuzzy-join grid escalates on a hot gram bucket (cells table)") {
    // Every key shares the segment-0 gram "aaaaa" (the tails are distinct
    // and a-free, so shifted probe windows stay out of that bucket): one
    // (seg, sub) bucket holds all n distinct keys on BOTH sides and the 2D
    // grid must escalate. Asserted on the exposed cells table directly —
    // an in-plan observe() witness cannot surface here because the
    // candidate subtree is broadcast into the expansion joins (see
    // fuzzyGridCells' scaladoc); the query itself must still return the
    // all-pairs truth through the escalated grid.
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-hotgram").toFile
    dir.deleteOnExit()
    val alpha = "bcdefghijklmnopqrstuvwxyz"
    val r = new Random(5)
    val n = 700 // > CELL=512 for a 2-block escalation
    val rows = (0 until n).map { i =>
      val key = "aaaaa" + Array.fill(15)(alpha(r.nextInt(alpha.length))).mkString
      (i.toLong, key + " tail words here", "en", "hot", 20L)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val hot = Dedup.fuzzyGridCells(spark, dir.getAbsolutePath)
      .filter(col("seg") === 0 && col("sub") === "aaaaa")
      .collect()
    assert(hot.length == 1, s"expected the one hot bucket, got ${hot.toSeq}")
    val row = hot.head
    assert(row.getInt(row.fieldIndex("ni")) == n &&
      row.getInt(row.fieldIndex("np")) >= n,
      s"hot bucket should hold all $n keys: $row")
    assert(row.getInt(row.fieldIndex("bi")) >= 2 &&
      row.getInt(row.fieldIndex("bp")) >= 2,
      s"grid should escalate past one block: $row")
    // And the gridded query still computes the exact answer on this corpus.
    val got = SparkEntry.queries("q_fuzzy_join")(spark, dir.getAbsolutePath)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val keyed = Tables.t(spark, dir.getAbsolutePath, "documents")
      .select(col("doc_id"), rpad(substring(col("text"), 1, 20), 20, "~").as("k"))
    val truth = keyed.as("a").crossJoin(keyed.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(levenshtein(col("a.k"), col("b.k")) <= 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == truth, s"got ${got.size} pairs, truth ${truth.size}")
  }

  test("semantic-dedup grid witness trips on a snowballed cluster") {
    // Near-identical vectors all land in one cluster: its pair grid must
    // escalate (cn > SEM_CELL=2048 -> nblk >= 2) and the witness report it.
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-hotcluster").toFile
    dir.deleteOnExit()
    val r = new Random(9)
    val n = 2200
    // Seed 0 takes the hot direction +e_0; seeds 1..7 are ANTI-aligned
    // (-e_0 plus a distinguishing jitter), so every hot vector's argmax is
    // unambiguous: cluster 0 wins them all (orthogonal or near-identical
    // decoys instead let per-vector noise spread the mass ~n/8, measured).
    val rows = (0 until n).map { i =>
      val v =
        if (i == 0) Array.tabulate(64)(j => if (j == 0) 1.0f else 0.0f)
        else if (i < 8) Array.tabulate(64)(j =>
          if (j == 0) -1.0f else if (j == i) 0.01f else 0.0f)
        else Array.tabulate(64)(j =>
          (if (j == 0) 1.0f else 0.0f) + (r.nextFloat() - 0.5f) * 0.01f)
      (i.toLong, v, 0)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    Sessions.lastGridOccupancy.clear()
    SparkEntry.queries("q_dedup_semantic")(spark, dir.getAbsolutePath)
      .write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var m: (Int, Int) = null
    while (m == null && System.nanoTime() < deadline) {
      m = Sessions.lastGridOccupancy.get(Dedup.GRID_METRIC_PREFIX + "semantic")
      if (m == null) Thread.sleep(50)
    }
    assert(m != null, "semantic grid metric never arrived on the listener bus")
    assert(m._1 >= n - 8, s"snowballed cluster should hold ~all $n vectors: $m")
    assert(m._2 >= 2, s"grid should escalate past one block: $m")
  }

  test("grid occupancy witness records the containment grid (a Long max(df) metric)") {
    // The containment site observes max(df), a count, so its row holds a
    // Long where the other sites hold Ints. The listener once read it with
    // getInt, threw ClassCastException on the listener bus, and never
    // recorded the containment decision.
    import graft.pipeline.Dedup
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain-grid").toString
    def doc(lo: Int, hi: Int) = (lo to hi).map(i => s"t$i").mkString(" ")
    Seq((1L, doc(1, 12), "en", "t", 0L), (2L, doc(1, 60), "en", "t", 0L),
        (3L, doc(100, 120), "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val metric = Dedup.GRID_METRIC_PREFIX + "containment"
    Sessions.lastGridOccupancy.remove(metric)
    Sessions.clearGridSite(metric)
    SparkEntry.queries("q_dedup_containment")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var m: (Int, Int) = null
    while (m == null && System.nanoTime() < deadline) {
      m = Sessions.lastGridOccupancy.get(metric)
      if (m == null) Thread.sleep(50)
    }
    assert(m != null, "containment grid metric never arrived on the listener bus")
    // Docs 1 and 2 share their head shingles: the largest posting list is
    // 2 documents, one grid block.
    assert(m == ((2, 1)), s"unexpected containment occupancy: $m")
    assert(Sessions.latestGridDecision(metric).exists(_.regime == "linear"),
      s"no linear containment decision: ${Sessions.latestGridDecision(metric)}")
  }

  test("saltedBroadcastJoin equals the plain join") {
    val fact = spark.range(0, 50000)
      .select((col("id") % 5).as("fk"), col("id").as("v"))
    val dim = spark.range(0, 5).select(col("id").as("dk"),
      concat(lit("dim-"), col("id")).as("name"))
    val plain = fact.join(dim, col("fk") === col("dk"))
      .groupBy(col("name")).agg(sum(col("v")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedBroadcastJoin(fact, dim, col("fk"), col("dk"), 8)
      .groupBy(col("name")).agg(sum(col("v")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

}
