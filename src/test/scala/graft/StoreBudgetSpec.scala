package graft

import org.apache.spark.sql.functions._

/** The content-keyed temp-store LRU budget (VERDICT r12 missing #2): a
  * long-lived gateway JVM that serves many distinct corpora must hold
  * store occupancy under the caps — with evicted stores REBUILDING
  * identically on refetch (content-keyed ⇒ eviction costs a rebuild,
  * never staleness). Mirrors the job registry's TTL-sweeper spec. */
class StoreBudgetSpec extends SparkSpec {

  /** Write one tiny distinct corpus (full documents schema) and return its
    * dir. Two of the docs are near-dups so the pair store is non-empty. */
  private def writeCorpus(root: java.nio.file.Path, i: Int): String = {
    val d = root.resolve(s"corpus$i").toString
    val texts = Seq(
      s"the quick brown fox jumps over the lazy dog variant$i",
      s"the quick brown fox jumps over the lazy dog variant$i today",
      s"completely different content about the number $i and spark plans",
      s"a third unrelated document mentioning corpus $i twice corpus $i",
      s"yet another filler line for corpus $i with enough tokens in it")
    val rows = texts.zipWithIndex.map { case (t, j) =>
      (j.toLong, t, "en", "test", t.length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("LRU budget: occupancy holds under a low cap across cycled corpora; " +
      "evicted stores rebuild bit-identically") {
    val root = java.nio.file.Files.createTempDirectory("graft-budget-spec")
    val oldCap = Tables.storeCountCap
    val oldGrace = Tables.storeEvictionGraceMs
    try {
      val dirs = (0 until 6).map(writeCorpus(root, _))
      Tables.storeCountCap = 3
      // Grace 0: this test observes DELETION; the grace window itself is
      // covered by the dedicated test below.
      Tables.storeEvictionGraceMs = 0L

      // First corpus: snapshot its verified pair relation and its store dir.
      val first = pipeline.Dedup.materializedPairs(spark, dirs.head, 0.5)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(first.nonEmpty, "tiny corpus must yield at least one near-dup pair")
      val firstDir = {
        val snap = Tables.storeOccupancySnapshot
        val hit = snap.filter(r => r._1 == "graft-pairs-idx" &&
          r._2.startsWith(dirs.head))
        assert(hit.size == 1, s"expected one pairs store for corpus0, got $snap")
        // Each store-table entry carries its dir.
        Tables.storeEntries.find(e => e.store == "graft-pairs-idx" &&
          e.key.startsWith(dirs.head)).map(_.dir).orNull
      }
      assert(firstDir != null && new java.io.File(firstDir).exists())

      // Cycle the remaining corpora through the same store family. Each
      // warms 2 stores (shingle index + pair store): 12 total against a
      // cap of 3 ⇒ evictions must fire and the oldest (corpus 0) must go.
      val evict0 = Tables.storeEvictions.get()
      dirs.tail.foreach(d =>
        pipeline.Dedup.materializedPairs(spark, d, 0.5).count())
      assert(Tables.storeEntries.size <= 3,
        s"store table ${Tables.storeEntries.size} exceeds cap 3")
      assert(Tables.storeEvictions.get() > evict0, "no eviction fired")
      // Force-drain the condemned queue first: an eviction that raced a
      // straggler thread from an earlier suite can condemn under the
      // DEFAULT grace before this test's grace=0 write is observed; the
      // assertion's subject is reclamation (no leak), deferred-deletion
      // semantics are the dedicated grace test's.
      Tables.sweepCondemnedStores(force = true)
      assert(!new java.io.File(firstDir).exists(),
        "LRU victim's directory must be deleted (post forced sweep)")
      assert(Tables.condemnedStores.isEmpty,
        "forced sweep must drain the condemned queue")
      // Every surviving registry row points at a live directory.
      Tables.storeEntries.foreach(e => assert(new java.io.File(e.dir).exists(),
        s"table entry ${e.dir} has no files"))
      val bytes = Tables.storeOccupancySnapshot.map(_._3).sum
      assert(bytes <= Tables.storeBytesCap)

      // Refetch the evicted corpus: one rebuild, identical relation.
      val builds0 = Tables.tempBuildCount
      val again = pipeline.Dedup.materializedPairs(spark, dirs.head, 0.5)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(Tables.tempBuildCount > builds0, "refetch must rebuild the store")
      assert(again == first, "rebuilt store must match the evicted relation")
    } finally {
      Tables.storeCountCap = oldCap
      Tables.storeEvictionGraceMs = oldGrace
      // Drop the test corpora's stores so later suites' LRU space isn't
      // polluted by entries whose source dirs are about to vanish.
      pipeline.Dedup.evictSharedStores()
      scala.reflect.io.Path(root.toFile).deleteRecursively()
    }
  }

  test("eviction grace window: a just-served store's files outlive its " +
      "eviction until the grace deadline (serve→execute race, ADVICE r13)") {
    val root = java.nio.file.Files.createTempDirectory("graft-grace-spec")
    val oldCap = Tables.storeCountCap
    val oldGrace = Tables.storeEvictionGraceMs
    try {
      val dirs = (0 until 4).map(writeCorpus(root, _))
      Tables.storeCountCap = 2
      Tables.storeEvictionGraceMs = 60L * 1000 // longer than this test
      // Serve corpus 0 LAZILY — no action yet, exactly the race window.
      val lazily = pipeline.Dedup.materializedPairs(spark, dirs.head, 0.5)
        .orderBy("a_id", "b_id")
      val dir0 = Tables.storeEntries.find(e => e.store == "graft-pairs-idx" &&
        e.key.startsWith(dirs.head)).map(_.dir).orNull
      assert(dir0 != null)
      // Cycle the other corpora: corpus 0's stores get EVICTED (registry
      // row + cache entry gone) under the low cap...
      val evict0 = Tables.storeEvictions.get()
      dirs.tail.foreach(d =>
        pipeline.Dedup.materializedPairs(spark, d, 0.5).count())
      assert(Tables.storeEvictions.get() > evict0, "no eviction fired")
      assert(!Tables.storeEntries.exists(_.dir == dir0),
        "victim must leave the registry immediately")
      // ...but its FILES survive (condemned, not deleted), so the lazy
      // plan served before the evictions still executes correctly.
      assert(new java.io.File(dir0).exists(),
        "condemned store's files must survive the grace window")
      assert(lazily.collect().nonEmpty,
        "a pre-eviction lazy plan must still execute during the grace window")
      // A forced sweep (the shutdown path; deadline expiry in production)
      // actually deletes the condemned files.
      Tables.sweepCondemnedStores(force = true)
      assert(!new java.io.File(dir0).exists(),
        "sweep past the deadline must delete the condemned files")
    } finally {
      Tables.storeCountCap = oldCap
      Tables.storeEvictionGraceMs = oldGrace
      Tables.sweepCondemnedStores(force = true)
      pipeline.Dedup.evictSharedStores()
      scala.reflect.io.Path(root.toFile).deleteRecursively()
    }
  }

  test("nested stores under a count cap of 1: cluster labels over pairs over " +
      "shingles build, evicted dirs are gone, every entry's dir exists") {
    // Each build serves the store it nests on (labels -> pairs -> shingles)
    // and runs a budget pass of its own, so with a cap of 1 every inner
    // store is evicted while an outer build is still in flight.
    val root = java.nio.file.Files.createTempDirectory("graft-nested-spec")
    val storeRoot = java.nio.file.Files.createTempDirectory("graft-nested-root")
    val oldCap = Tables.storeCountCap
    val oldGrace = Tables.storeEvictionGraceMs
    try {
      // A warm pair store of another corpus whose key shares d's hash bin
      // in a 16-bin map: evicting it while d's pair build was in flight
      // lost d's entry when every store family had its own map, and the
      // later eviction of d's pair store then kept its files (the LRU
      // flake of full runs, where earlier suites leave pair stores warm).
      def bin(c: String) = {
        val h = s"$c/documents.parquet#t=0.5".hashCode
        (h ^ (h >>> 16)) & 0x7fffffff & 15
      }
      val other = writeCorpus(root, 0)
      val d = writeCorpus(root, (1 to 500).find(j =>
        bin(root.resolve(s"corpus$j").toString) == bin(other)).get)
      spark.conf.set("spark.graft.store.root", storeRoot.toString)
      pipeline.Dedup.materializedPairs(spark, other, 0.5).count()
      Tables.storeCountCap = 1
      Tables.storeEvictionGraceMs = 0L
      val builds0 = Tables.tempBuildCount
      val evict0 = Tables.storeEvictions.get()
      val first = pipeline.Dedup.clusterLabelsCached(spark, d)
        .orderBy("doc_id").collect().toSeq
      assert(first.nonEmpty, "tiny corpus must yield a near-dup cluster")
      assert(Tables.tempBuildCount - builds0 == 3,
        "labels, pairs and shingles must each build once")
      assert(Tables.storeEvictions.get() - evict0 >= 2,
        "the cap must evict the shingle and pair stores")
      assert(Tables.storeEntries.size <= 1)
      Tables.sweepCondemnedStores(force = true)
      // Every store dir this test made lives under the configured root:
      // exactly the table's entries survive, each with its files.
      val onDisk = java.nio.file.Files.list(storeRoot).iterator()
      val left = scala.collection.mutable.Set[String]()
      while (onDisk.hasNext) {
        val it = java.nio.file.Files.list(onDisk.next()).iterator()
        while (it.hasNext) left += it.next().toString
      }
      val live = Tables.storeEntries.map(_.dir).filter(_.startsWith(storeRoot.toString))
      assert(left.toSet == live.toSet,
        s"evicted store dirs survive the forced sweep: ${left.toSet -- live}")
      Tables.storeEntries.foreach(e => assert(new java.io.File(e.dir).exists(),
        s"table entry ${e.dir} has no files"))
      // A second call serves the surviving labels store: same rows, no build.
      val builds1 = Tables.tempBuildCount
      val again = pipeline.Dedup.clusterLabelsCached(spark, d)
        .orderBy("doc_id").collect().toSeq
      assert(again == first)
      assert(Tables.tempBuildCount == builds1, "warm labels store rebuilt")
    } finally {
      spark.conf.unset("spark.graft.store.root")
      Tables.storeCountCap = oldCap
      Tables.storeEvictionGraceMs = oldGrace
      pipeline.Dedup.evictSharedStores()
      Tables.sweepCondemnedStores(force = true)
      scala.reflect.io.Path(root.toFile).deleteRecursively()
      scala.reflect.io.Path(storeRoot.toFile).deleteRecursively()
    }
  }

  test("two concurrent first calls on one store run one build and read " +
      "the same directory") {
    val root = java.nio.file.Files.createTempDirectory("graft-race-spec")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val path = s"${writeCorpus(root, 8)}/documents.parquet"
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val go = new java.util.concurrent.CountDownLatch(1)
      val builds0 = Tables.tempBuildCount
      val serve: java.util.concurrent.Callable[Set[String]] = () => {
        go.await()
        Tables.contentKeyedTempParquet(spark, path, "graft-race-spec") {
          calls.incrementAndGet()
          Thread.sleep(500) // hold the build open while the other caller arrives
          spark.range(0, 10).toDF("id")
        }.inputFiles.toSet
      }
      val a = pool.submit(serve)
      val b = pool.submit(serve)
      go.countDown()
      val (filesA, filesB) = (a.get(), b.get())
      assert(calls.get() == 1, s"${calls.get()} builds for one store key")
      assert(Tables.tempBuildCount - builds0 == 1)
      assert(filesA.nonEmpty && filesA == filesB,
        "both callers must read the one built directory")
    } finally {
      pool.shutdown()
      Tables.evictStores(_ == "graft-race-spec")
      Tables.sweepCondemnedStores(force = true)
      scala.reflect.io.Path(root.toFile).deleteRecursively()
      ()
    }
  }

  test("spark.graft.store.root redirects store files to a shared-FS root") {
    // On a multi-host cluster the stores must live on a SHARED filesystem
    // (executors read what the driver registers). With the conf set, new
    // store dirs land under <root>/graft-store-<jvmId>/ and eviction
    // deletes them through the Hadoop FS API; values are unchanged.
    val root = java.nio.file.Files.createTempDirectory("graft-shared-root")
    val corpus = java.nio.file.Files.createTempDirectory("graft-root-corpus")
    try {
      val d = writeCorpus(corpus, 99)
      spark.conf.set("spark.graft.store.root", root.toString)
      val rows = pipeline.Dedup.materializedPairs(spark, d, 0.5)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(rows.nonEmpty)
      val dir = Tables.storeEntries.find(e => e.store == "graft-pairs-idx" &&
        e.key.startsWith(d)).map(_.dir).orNull
      assert(dir != null && dir.startsWith(root.toString),
        s"store dir $dir must land under the configured root $root")
      assert(new java.io.File(dir).exists())
      // Eviction through the helper condemns the shared-FS files (grace
      // window, ADVICE r14); a sweep past the deadline removes them.
      pipeline.Dedup.evictSharedStores()
      Tables.sweepCondemnedStores(force = true)
      assert(!new java.io.File(dir).exists())
    } finally {
      spark.conf.unset("spark.graft.store.root")
      pipeline.Dedup.evictSharedStores()
      scala.reflect.io.Path(root.toFile).deleteRecursively()
      scala.reflect.io.Path(corpus.toFile).deleteRecursively()
    }
  }

  test("catalog-store cap bounds the bucketed fp-store family across corpora") {
    // The bucketed saveAsTable stores (incremental dedup's fingerprint
    // store) are keyed by corpus path — one catalog table per distinct
    // corpus, unbounded on a long-lived JVM without the cap. Cycle
    // CAP + 2 distinct corpora and assert the table count stays bounded
    // while the query keeps answering (a dropped store rebuilds).
    val root = java.nio.file.Files.createTempDirectory("graft-budget-cat")
    try {
      val dirs = (0 until Tables.CATALOG_STORE_CAP + 2).map(writeCorpus(root, _))
      dirs.foreach { d =>
        assert(SparkEntry.queries("q_dedup_incremental")(spark, d).collect()
          .nonEmpty)
      }
      val n = spark.catalog.listTables().collect()
        .count(_.name.startsWith("graft_fp_store_"))
      assert(n <= Tables.CATALOG_STORE_CAP,
        s"$n fp-store tables survive a ${dirs.size}-corpus cycle")
      // A capped-out corpus still answers (store rebuilds transparently).
      assert(SparkEntry.queries("q_dedup_incremental")(spark, dirs.head)
        .collect().nonEmpty)
    } finally {
      scala.reflect.io.Path(root.toFile).deleteRecursively()
      ()
    }
  }

  test("contentToken canonicalizes path spellings; staleSibling survives " +
      "'#' in paths and numeric param suffixes (ADVICE r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tok")
    try {
      java.nio.file.Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
      val abs = Tables.contentToken(dir.toString)
      // Same corpus through a non-canonical spelling -> same token.
      assert(Tables.contentToken(s"$dir/../${dir.getFileName}") == abs)
      val sep = Tables.TOKEN_SEP
      // Fabricated sibling tokens for a path CONTAINING '#': the old
      // '#'-split parse truncated the path half and disabled eviction.
      val p = s"file:/data/we#ird/corpus"
      val stale = s"$p${sep}3#100#1000"
      val fresh = s"$p${sep}3#120#2000"
      assert(Tables.staleSibling(fresh, stale))
      assert(!Tables.staleSibling(stale, fresh))
      // Numeric param suffixes (the IVF '#nTables#nBits' shape) must not
      // derail the mtime parse; same-content different-suffix never evicts.
      assert(Tables.staleSibling(s"$fresh#8#16", s"$stale#8#16"))
      assert(!Tables.staleSibling(s"$fresh#8#16", s"$fresh#4#32"))
      // Absent tokens and different paths never compare as siblings.
      assert(!Tables.staleSibling(fresh, s"$p${sep}absent"))
      assert(!Tables.staleSibling(fresh,
        s"file:/data/other${sep}3#100#1000"))
    } finally {
      scala.reflect.io.Path(dir.toFile).deleteRecursively()
      ()
    }
  }

  test("store_occupancy view reflects the registry and its caps") {
    pipeline.Dedup.materializedPairs(spark, sfDir, 0.5).count()
    val rt = new gateway.JobRuntime(spark)
    try {
      rt.registerStoreOccupancyView()
      val rows = spark.sql(
        """SELECT store, bytes, last_access_seq, count_cap, bytes_cap
           FROM store_occupancy""").collect()
      assert(rows.nonEmpty)
      assert(rows.exists(_.getString(0) == "graft-pairs-idx"))
      assert(rows.forall(_.getLong(1) > 0L), "every store has on-disk bytes")
      assert(rows.forall(r => r.getInt(3) == Tables.storeCountCap &&
        r.getLong(4) == Tables.storeBytesCap))
      assert(rows.length <= Tables.storeCountCap)
      // Refresh-on-scan: warming another store family changes the next
      // observation without re-registering the view.
      val n0 = spark.sql("SELECT count(*) FROM store_occupancy").head().getLong(0)
      pipeline.Dedup.materializedStrategyPairs(spark, sfDir, "minhash").count()
      val n1 = spark.sql("SELECT count(*) FROM store_occupancy").head().getLong(0)
      assert(n1 >= n0, "view must re-snapshot the registry per scan")
    } finally rt.close()
  }
}
