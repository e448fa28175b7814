package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All query builders take `(spark, sfDir)` and read through here, so the
  * scan is always a parquet `FileSourceScanExec` with predicate pushdown and
  * column pruning available to Catalyst. At cluster scale the same code reads
  * a directory of many files — nothing here assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` is normalized here to ns-since-epoch LONG — the contract
    * every EventOps query builds its int64 arithmetic on — regardless of the
    * physical parquet type, which has drifted across testdata generations:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp
    *    (PARQUET_TYPE_ILLEGAL); `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (see [[Sessions.configure]]) surfaces it as ns-LONG → pass through.
    *  - TIMESTAMP / TIMESTAMP_NTZ (micros): converted via
    *    `unix_micros(ts) * 1000`. The session timezone is pinned to UTC
    *    (Sessions.configure), so the NTZ→instant reinterpretation is the
    *    identity the DuckDB oracle (`epoch_ns`, also UTC) applies.
    *
    * Ordering/grouping on the long is identical to ordering on the ns
    * timestamp, so oracles that only use `ts` for ORDER BY stay comparable
    * with DuckDB. Never output raw `ts`.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df
      case _: TimestampNTZType | _: TimestampType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other; expected LONG(ns) or timestamp[_ntz]")
    }
  }

  /** Layout-adaptive spread for row-CPU-dense scan stages (per-position
    * hashing, per-doc n-gram folds): when the scan yields FEWER splits
    * than the session's parallelism — the single-file / single-row-group
    * corpus case, where parquet cannot be split further — redistribute
    * once so the compute stage uses every core; when splits already meet
    * parallelism (any real multi-file corpus, and certainly 100 TB), this
    * is the IDENTITY — no exchange is added. The trade is explicit: these
    * operators spend ~1000x more CPU per byte than one text shuffle
    * costs, so when the branch fires the exchange is negligible against
    * the compute it unlocks; when it doesn't fire it costs nothing.
    * (Partition count comes from the physical scan plan; computing it
    * runs no job.) */
  def spreadForRowCpu(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Register exactly the named tables as temp views (SQL-form queries).
    * Deliberately NOT all tables: an eager register-everything forces a read
    * of every file's footer per query — wasteful, and one bad table poisons
    * unrelated queries (round-1 ERR root cause, VERDICT.md "What's wrong" #1).
    */
  def register(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Register every table as a temp view. Kept for interactive use; query
    * builders should use [[register]] with the tables they need. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names: _*)

  /** Hadoop configuration for store-file operations: the active session's
    * (so `hdfs://`/`s3a://` URIs resolve with its credentials) or a bare
    * default (shutdown hooks outlive sessions; local `file://` paths need
    * nothing more). */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Content-derived cache token for a parquet path: (leaf-file count, total
    * bytes, max mtime) over every regular file under the path. Unlike a bare
    * `lastModified` on the top-level path, this changes when part-files are
    * rewritten in place inside a directory, and a not-yet-existing path
    * yields a distinct "absent" token instead of a constant 0 that would pin
    * a stale entry forever. Used to key JVM-lifetime caches (shingle index,
    * IVF centroids) so regenerated data at the same path is re-derived.
    *
    * Walks through the Hadoop FS API (r13), not java.io: at cluster scale
    * the corpus lives on `hdfs://`/`s3a://`, where a java.io walk would
    * return the CONSTANT absent token and pin the first-built store as
    * permanently fresh — staleness masquerading as caching. */
  def contentToken(path: String): String = {
    val raw = new org.apache.hadoop.fs.Path(path)
    val fs = raw.getFileSystem(hadoopConf)
    // Qualify BEFORE building the token (ADVICE r13): relative vs absolute
    // vs default-FS spellings of one corpus must share a cache key, or each
    // spelling builds (and leaks) its own store copy. (The old java.io
    // version canonicalized; the Hadoop-FS rewrite had dropped that.)
    val p = fs.makeQualified(raw)
    if (!fs.exists(p)) return s"$p${TOKEN_SEP}absent"
    var n = 0L; var bytes = 0L; var maxM = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      n += 1; bytes += st.getLen; maxM = math.max(maxM, st.getModificationTime)
    }
    s"$p$TOKEN_SEP$n#$bytes#$maxM"
  }

  /** Separator between a token's path half and its metrics half. A control
    * char, ILLEGAL in URIs and in every real filesystem's names — so the
    * path half can never contain it, making [[staleSibling]]'s parse
    * unambiguous. '#' could not serve: it is URI-legal (a path containing
    * one silently disabled stale-sibling eviction, ADVICE r13) and callers
    * append '#'-delimited param suffixes, some numeric, so neither a left-
    * nor right-anchored '#' parse is sound. */
  private[graft] val TOKEN_SEP = '\u0001'

  /** Where store files land. Driver-local JVM temp by default (correct
    * for local[n] and local-cluster on one host); on a real multi-host
    * cluster set `spark.graft.store.root` (or GRAFT_STORE_ROOT) to a
    * SHARED filesystem URI — executor tasks must read the store parquet
    * the driver registers, which driver-local /tmp cannot serve off one
    * machine. Each JVM claims a unique subdir under the configured root,
    * so shutdown reclamation and LRU deletes can never touch another
    * gateway's stores. */
  private val storeJvmId: String =
    java.util.UUID.randomUUID().toString.take(12)
  private def configuredStoreRoot: Option[String] =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.store.root"))
      .orElse(sys.env.get("GRAFT_STORE_ROOT"))
      .map(r => s"${r.stripSuffix("/")}/graft-store-$storeJvmId")

  private[graft] def newStoreDir(prefix: String): String =
    configuredStoreRoot match {
      case Some(root) =>
        s"$root/$prefix-${java.util.UUID.randomUUID().toString.take(12)}"
      case None => java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** Delete a store directory through the Hadoop FS API (works for local
    * temp dirs AND shared-FS roots; java.io deleteRecursively silently
    * no-ops on non-local URIs, leaking the store). */
  private[graft] def deleteStoreFiles(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    try { p.getFileSystem(hadoopConf).delete(p, true); () }
    catch { case _: java.io.IOException => () }
  }

  /** Count of store BUILDS (table misses that ran a Spark write) across
    * the store table — the observable the reuse specs assert on: "the
    * second consumer did not rebuild" is `tempBuildCount` unchanged across
    * its run, which no timing heuristic can state as crisply. */
  private[graft] val tempBuilds = new AtomicLong(0L)
  private[graft] def tempBuildCount: Long = tempBuilds.get()

  /** Run `build` once per key with no map lock held — the one discipline
    * of the store table, the catalog stores and every [[keyedOnce]]
    * cache. The caller that installs an in-flight future (a plain
    * `putIfAbsent`/`replace`: no remapping function ever runs work) runs
    * the build; concurrent callers for the key await that future and see
    * its exception if it fails. A completed value that `fresh` rejects is
    * rebuilt, and the build gets it as `prev` to retire once its own
    * result is ready. On failure the previous value (or no mapping) is put
    * back, so a later call retries and a stale-but-intact entry keeps
    * serving. Builds nest freely across keys (the pair store's build reads
    * the shingle index): nothing is locked while they run. Evictors take
    * only completed values, so no in-flight build is raced by a duplicate. */
  @annotation.tailrec
  private def buildOnce[K, V](map: ConcurrentHashMap[K, CompletableFuture[V]], key: K)
      (fresh: V => Boolean)(build: Option[V] => V): V = {
    val seen = map.get(key)
    val prev = Option(seen).map(await)
    if (prev.exists(fresh)) prev.get
    else {
      val mine = new CompletableFuture[V]()
      val won =
        if (seen == null) map.putIfAbsent(key, mine) == null
        else map.replace(key, seen, mine)
      if (!won) buildOnce(map, key)(fresh)(build)
      else try {
        val v = build(prev)
        mine.complete(v)
        v
      } catch {
        case e: Throwable =>
          if (seen == null) map.remove(key, mine) else map.replace(key, mine, seen)
          mine.completeExceptionally(e)
          throw e
      }
    }
  }

  private def await[V](f: CompletableFuture[V]): V =
    try f.join()
    catch { case e: CompletionException => throw Option(e.getCause).getOrElse(e) }

  /** The completed values of a [[buildOnce]] map, with key and slot. */
  private def completed[K, V](map: ConcurrentHashMap[K, CompletableFuture[V]])
      : Seq[(K, CompletableFuture[V], V)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(K, CompletableFuture[V], V)]
    map.forEach((k, f) =>
      if (f.isDone && !f.isCompletedExceptionally) out += ((k, f, f.join())))
    out.toSeq
  }

  /** One content-keyed store: `store` is its family's prefix, `key` the
    * input path plus variant, `token` the [[contentToken]] it was built
    * from, `dir` its parquet files, `lastAccess` the LRU sequence. */
  private[graft] final case class StoreEntry(store: String, key: String,
      token: String, dir: String, bytes: Long, lastAccess: AtomicLong)

  /** THE store table: every content-keyed temp-parquet store in the JVM
    * (shingle index, pair stores, cluster labels, tokenizer word tables,
    * media payloads, ...), keyed by (store prefix, input path + variant),
    * one persisted copy per key. The content-keyed discipline bounds
    * STALENESS (a regen rebuilds); [[enforceStoreBudget]] bounds GROWTH —
    * a long-lived gateway JVM that serves many distinct corpora would
    * otherwise accumulate one store per (corpus content, params) key
    * without limit. The LRU budget, the eviction grace window, the
    * `store_occupancy` view, the test eviction hooks and the one shutdown
    * hook all read this map and nothing else. Eviction is safe by
    * construction: a dropped store costs one rebuild on next access, never
    * staleness. */
  private val stores =
    new ConcurrentHashMap[(String, String), CompletableFuture[StoreEntry]]()
  private val storeSeq = new AtomicLong(0L)
  private[graft] val storeEvictions = new AtomicLong(0L)

  /** Every completed store in the table. */
  private[graft] def storeEntries: Seq[StoreEntry] = completed(stores).map(_._3)

  /** Caps, overridable by the budget specs. Defaults are a leak bound for
    * a long-lived gateway, far above one bench run's working set (a full
    * sf0.1 suite warms ~15 stores, well under 1 GiB): hitting them means
    * corpora came and went, exactly when LRU rebuild-on-refetch is the
    * right trade. */
  @volatile private[graft] var storeCountCap: Int = 48
  @volatile private[graft] var storeBytesCap: Long = 16L << 30

  /** Grace window between a store's EVICTION (table entry dropped —
    * occupancy stops counting it, the next access rebuilds) and the
    * deletion of its FILES. Closes the serve→execute race (ADVICE r13
    * medium): `contentKeyedTempParquetKeyed` returns a LAZY DataFrame, so
    * a caller may execute its plan well after being served — and a
    * concurrent caller's budget enforcement (or, single-threaded, a query
    * whose working set exceeds the caps) could otherwise select that
    * just-served store as the LRU victim and delete its parquet out from
    * under the pending execution (FileNotFound mid-query). Deferring only
    * the FILE deletion keeps the budget's bookkeeping immediate while
    * giving every in-flight plan a full grace window to finish reading.
    * Condemned bytes linger at most `grace × eviction rate` beyond the
    * byte cap — bounded, and zero on the common no-eviction path. 0 means
    * delete immediately (the budget specs use it to observe deletion). */
  @volatile private[graft] var storeEvictionGraceMs: Long = 10L * 60 * 1000

  private[graft] final case class CondemnedStore(dir: String, deadline: Long)
  private[graft] val condemnedStores =
    new java.util.concurrent.ConcurrentLinkedQueue[CondemnedStore]()

  /** Defer a superseded/evicted store directory's deletion by the grace
    * window (immediate when the window is 0). */
  private[graft] def condemnStoreDir(dir: String): Unit = {
    val grace = storeEvictionGraceMs
    if (grace <= 0L) deleteStoreFiles(dir)
    else {
      condemnedStores.add(
        CondemnedStore(dir, System.currentTimeMillis() + grace))
      ()
    }
  }

  /** Delete condemned store dirs whose grace deadline has passed (all of
    * them under `force` — the shutdown path). Piggybacks on every budget
    * enforcement pass, so a long-lived gateway drains the queue as part
    * of its normal serve traffic. */
  private[graft] def sweepCondemnedStores(force: Boolean = false): Unit = {
    val now = System.currentTimeMillis()
    val it = condemnedStores.iterator()
    while (it.hasNext) {
      val c = it.next()
      if (force || c.deadline <= now) {
        deleteStoreFiles(c.dir)
        it.remove()
      }
    }
  }

  private def dirBytes(path: String): Long = try {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(hadoopConf).getContentSummary(p).getLength
  } catch { case _: java.io.IOException => 0L }

  /** Occupancy snapshot for the observability view: (store, key, bytes,
    * last access seq), table order. */
  private[graft] def storeOccupancySnapshot: Seq[(String, String, Long, Long)] =
    storeEntries.map(e => (e.store, e.key, e.bytes, e.lastAccess.get()))

  /** Drop a completed store from the table and condemn its files. The
    * exact-slot remove loses (and touches no files) when a concurrent
    * rebuild already replaced the entry — that rebuild retires the dir. */
  private def evictStore(k: (String, String), f: CompletableFuture[StoreEntry],
      e: StoreEntry): Boolean = {
    val won = stores.remove(k, f)
    if (won) condemnStoreDir(e.dir)
    won
  }

  /** Evict every completed store of the families `store` selects — the
    * test hooks' way to force rebuilds. Grace-windowed like LRU eviction:
    * a lazy plan served from one of these dirs may not have executed yet. */
  private[graft] def evictStores(store: String => Boolean): Unit =
    completed(stores).foreach { case (k, f, e) =>
      if (store(e.store)) evictStore(k, f, e)
    }

  /** Evict least-recently-accessed completed stores until both caps hold.
    * `keep` is the key just served — never a victim, so the active
    * caller's store survives even with a cap of 1. In-flight builds are
    * neither counted nor victims. Runs after the caller's build, outside
    * every map lock. */
  private def enforceStoreBudget(keep: (String, String)): Unit = {
    sweepCondemnedStores()
    var live = completed(stores)
    while (live.size > storeCountCap ||
        live.iterator.map(_._3.bytes).sum > storeBytesCap) {
      val victims = live.filter(_._1 != keep)
      if (victims.isEmpty) return
      val v = victims.minBy(_._3.lastAccess.get())
      if (evictStore(v._1, v._2, v._3)) storeEvictions.incrementAndGet()
      live = live.filter(_._2 ne v._2)
    }
  }

  /** Content-keyed temp-parquet materialization through the store table:
    * one persisted copy per (store prefix, input path, variant) per JVM,
    * keyed on [[contentToken]] so an in-place regen rebuilds instead of
    * serving stale data. `variant` distinguishes parameterized builds over
    * the SAME input path (e.g. a pair store at threshold t) — it extends
    * the key only; the token always comes from the real `path` contents,
    * so a regenerated corpus rebuilds every variant's store.
    *
    * Rebuild protocol is build-to-fresh-dir THEN swap THEN condemn: the
    * superseded directory is retired only AFTER the replacement build
    * succeeded, so a failed rebuild puts the old entry back with its
    * directory intact. A build FAILURE deletes only the half-written fresh
    * directory before rethrowing (a designed failure like non-convergence
    * must not leak a temp dir per retry on a long-lived gateway). The
    * build runs outside the table's lock ([[buildOnce]]); same-key callers
    * wait for it rather than racing duplicate Spark jobs. */
  private[graft] def contentKeyedTempParquet(
      s: SparkSession, path: String, prefix: String, variant: String = "")
      (build: => DataFrame): DataFrame =
    contentKeyedTempParquetKeyed(s, path, prefix, variant)(_ => build)._2

  /** [[contentKeyedTempParquet]] that also passes the build its content
    * token and returns the SERVED entry's token. For builders with a
    * driver-side half (BPE/WordPiece merge lists, unigram EM state) that
    * must stay in lockstep with the parquet half: keying the driver half
    * on a token recomputed OUTSIDE the table races an in-place corpus
    * regen — the store lands under the fresh token while the driver half
    * holds the stale one (or vice versa), and the pair never re-syncs
    * because later calls serve the warm store without rebuilding (ADVICE
    * r12). Keying both halves on THIS token — the one the served entry
    * was built from — keeps them together. */
  private[graft] def contentKeyedTempParquetKeyed(
      s: SparkSession, path: String, prefix: String, variant: String = "")
      (build: String => DataFrame): (String, DataFrame) = {
    val token = contentToken(path)
    val key = (prefix, path + variant)
    val e = buildOnce(stores, key)(_.token == token) { prev =>
      val out = newStoreDir(prefix)
      try build(token).write.mode("overwrite").parquet(out)
      catch {
        case t: Throwable =>
          deleteStoreFiles(out)
          throw t
      }
      // Same serve→execute hazard as LRU eviction: a reader served the
      // superseded dir may not have executed yet — condemn, don't cut.
      prev.foreach(p => condemnStoreDir(p.dir))
      tempBuilds.incrementAndGet()
      StoreEntry(prefix, key._2, token, out, dirBytes(out),
        new AtomicLong(storeSeq.incrementAndGet()))
    }
    e.lastAccess.set(storeSeq.incrementAndGet())
    enforceStoreBudget(key)
    (e.token, s.read.parquet(e.dir))
  }

  /** Once-per-token in-memory build — the driver-memory sibling of
    * [[contentKeyedTempParquet]], for caches of plain values (centroid
    * arrays, corpus row counts) whose builders run Spark jobs. One build
    * per token through [[buildOnce]] (a bare `TrieMap.getOrElseUpdate`
    * would let two concurrent callers both run it); the hit path is one
    * map lookup.
    *
    * `evict` names the stale keys to drop after a successful build (e.g.
    * superseded content tokens for the same corpus path — use
    * [[staleSibling]] so a late-finishing builder for superseded content
    * can never evict the fresher entry a concurrent builder just
    * completed); only COMPLETED entries are evicted — removing an
    * in-flight mapping would let a later caller race a duplicate build.
    * On top of that a hard cap bounds the cache on a long-lived gateway
    * whose corpus paths come and go — completed entries beyond
    * [[KEYED_ONCE_CAP]] are dropped in map-iteration order (arbitrary,
    * not LRU: the cap is a leak bound, and a dropped entry costs one
    * rebuild on refetch, not staleness — entries are content-keyed). */
  private[graft] val KEYED_ONCE_CAP = 64
  private[graft] def keyedOnce[T](
      cache: ConcurrentHashMap[String, CompletableFuture[T]],
      token: String)(evict: String => Boolean)(build: => T): T =
    buildOnce(cache, token)(_ => true) { _ =>
      val v = build
      cache.entrySet().forEach(e =>
        if (e.getKey != token && e.getValue.isDone && evict(e.getKey))
          cache.remove(e.getKey, e.getValue))
      if (cache.size > KEYED_ONCE_CAP) {
        val it = cache.entrySet().iterator()
        while (cache.size > KEYED_ONCE_CAP && it.hasNext) {
          if (it.next().getValue.isDone) it.remove()
        }
      }
      v
    }

  /** The safe eviction predicate for [[keyedOnce]] caches keyed on
    * [[contentToken]]-prefixed tokens: true when `other` names the same
    * corpus path as `mine` but with strictly OLDER content (smaller
    * max-mtime segment). Freshness-compared, not just path-matched, so a
    * late-finishing builder for superseded content cannot evict the
    * fresher entry a concurrent builder completed — its own token's mtime
    * is <= every fresher sibling's. Same-content tokens (differing only
    * in a builder-param suffix like `#k=`) never evict each other. */
  private[graft] def staleSibling(mine: String, other: String): Boolean = {
    // Parse at [[TOKEN_SEP]] (ADVICE r13): the path half runs up to the
    // control-char separator — which no URI can contain — so a corpus path
    // with '#' in it keeps its full spelling instead of being truncated at
    // its first '#' (which silently disabled stale-sibling eviction for
    // such paths). The metrics half is then left-anchored n#bytes#mtime,
    // unambiguous even under callers' '#'-delimited (sometimes numeric)
    // param suffixes. Absent tokens fail the numeric parse → never compare.
    def parse(t: String): Option[(String, Long)] = {
      val cut = t.indexOf(TOKEN_SEP.toInt)
      if (cut < 0) None
      else {
        val seg = t.substring(cut + 1).split('#')
        if (seg.length < 3) None
        else scala.util.Try((t.substring(0, cut), seg(2).toLong)).toOption
      }
    }
    (parse(mine), parse(other)) match {
      case (Some((pm, mm)), Some((po, mo))) => pm == po && mo < mm
      case _ => false
    }
  }

  /** One bucketed catalog store: its table and the table's files. */
  private[graft] final case class CatalogStore(token: String, table: String,
      dir: String)

  /** The bucketed CATALOG stores (incremental dedup's fingerprint store,
    * incremental ANN's band store), keyed by (store family, input path):
    * the catalog-table sibling of the store table, under [[buildOnce]]. */
  private val catalogStores =
    new ConcurrentHashMap[(String, String), CompletableFuture[CatalogStore]]()

  /** Leak bound per catalog store family: the entry is a catalog table, so
    * eviction needs the session, and the family carries no access
    * sequence — an arbitrary-order cap like [[KEYED_ONCE_CAP]]. A dropped
    * store costs one rebuild on the next batch against that corpus, never
    * staleness. */
  private[graft] val CATALOG_STORE_CAP = 8
  private val CATALOG_STORE_BUCKETS = 16

  /** `rows` as a `bucketCol`-BUCKETED (+ sorted) external catalog table,
    * one per (store family, input path) per JVM, so a probe joins it
    * exchange-free on the store side: only the (small) new batch shuffles,
    * the (huge) store is read in place bucket-by-bucket. Built once per
    * `token` with no map lock held while `saveAsTable` runs, and rebuilt in
    * place when the token changes or the session lost the table. The
    * family keeps at most [[CATALOG_STORE_CAP]] tables; the path just
    * served is never dropped. */
  private[graft] def bucketedCatalogStore(s: SparkSession, store: String,
      path: String, token: String, bucketCol: String)
      (rows: => DataFrame): DataFrame = {
    // `store` prefixes the table's dir; table names take '_' for '-'.
    val table = store.replace('-', '_') + "_" + java.security.MessageDigest
      .getInstance("MD5").digest(path.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    buildOnce(catalogStores, (store, path))(c =>
        c.token == token && s.catalog.tableExists(c.table)) { prev =>
      val dir = prev.fold(newStoreDir(store))(_.dir)
      rows.repartition(CATALOG_STORE_BUCKETS, col(bucketCol))
        .write.mode("overwrite")
        .bucketBy(CATALOG_STORE_BUCKETS, bucketCol).sortBy(bucketCol)
        .option("path", dir)
        .saveAsTable(table)
      CatalogStore(token, table, dir)
    }
    val family = completed(catalogStores).filter(_._1._1 == store)
    var n = family.size
    family.foreach { case (k, f, c) =>
      // Exact-slot remove (ADVICE r13): a concurrent rebuild of this key
      // keeps its fresh entry; only the slot observed here is dropped.
      if (n > CATALOG_STORE_CAP && k._2 != path && catalogStores.remove(k, f)) {
        n -= 1
        s.sql(s"DROP TABLE IF EXISTS ${c.table}")
        deleteStoreFiles(c.dir)
      }
    }
    s.table(table)
  }

  // The one shutdown reclamation for store files: live stores, live
  // catalog stores, and every condemned dir regardless of its deadline.
  sys.addShutdownHook {
    storeEntries.foreach(e => deleteStoreFiles(e.dir))
    completed(catalogStores).foreach(c => deleteStoreFiles(c._3.dir))
    sweepCondemnedStores(force = true)
  }
}
