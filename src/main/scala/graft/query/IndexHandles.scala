package graft.query

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.{DeltaLog, IndexBuilder}
import graft.index.Schema.{Stats, TermBlock}

/** Hot query-side state of one index version: meta and stats are
  * collected once; the dictionary and docs tables are persisted in memory
  * (they're the per-query serving working set — on a cluster these are
  * the natural executor-cache residents, while postings/blocks stay on
  * storage and are read group-pruned per query). Every read of base +
  * deltas goes through the one [[DeltaLog.Snapshot]] taken at
  * construction (seq listing, layer union, tombstones, liveness rule);
  * meta.deltaSeq changes per update, so the meta-validated cache swaps
  * handles on every commit.
  */
final class IndexHandles private (
    val spark: SparkSession,
    val indexDir: String,
    urlCacheCap: Int = 100000) {

  val meta: Map[String, String] = IndexBuilder.readMeta(spark, indexDir)
  val postingGroups: Int = meta("postingGroups").toInt

  val snapshot: DeltaLog.Snapshot =
    DeltaLog.snapshot(spark, indexDir, collectTombstones = true)

  /** [[DeltaLog.Snapshot.overflow]]: WAND skips its driver-local path. */
  def tombOverflow: Boolean = snapshot.overflow

  /** [[DeltaLog.Snapshot.tombMap]], collected at construction. */
  val tombMap: Map[Long, Int] = snapshot.tombMap

  /** Handle-scoped broadcast of [[tombMap]] for the distributed WAND path.
    * The map is immutable per index version, so a per-QUERY
    * `sparkContext.broadcast` re-serialized and re-shipped up to
    * `graft.maxDriverTombstones` entries (~120 MB) on every distributed
    * query and left a broadcast block behind until the ContextCleaner
    * caught up. Built lazily — the warm driver-local path never touches
    * it — and executor copies are dropped on [[release]].
    */
  @volatile private var bTombV: Broadcast[Map[Long, Int]] = null
  private[query] def bTombMap: Broadcast[Map[Long, Int]] = {
    var b = bTombV
    if (b == null) synchronized {
      b = bTombV
      if (b == null) {
        b = spark.sparkContext.broadcast(tombMap)
        bTombV = b
      }
    }
    b
  }

  val stats: Stats = snapshot.stats

  // cached partition counts sized to the data (~1M rows per cached
  // partition), not to the writer's partitioning — a small dictionary must
  // not cost 64 scheduler rounds per query
  private def parts(rows: Long): Int =
    math.max(1, math.min(256, (rows / 1000000L).toInt + 1))

  /** Version salt on every frame this handle PERSISTS. Spark's
    * CacheManager substitutes cached data by canonicalized-plan equality,
    * and `InMemoryFileIndex.equals` compares ROOT PATHS only. Without the
    * salt, the handle created after a commit builds identical plans over
    * the same paths and RE-ATTACHES to the displaced handle's still-cached
    * (stale, 60 s release grace) tables (caught by ServeSpec's freshness
    * test). The salt is a constant-true filter on a literal derived from
    * meta (wallMs + deltaSeq change with every rebuild and commit).
    */
  private val versionSalt: Int =
    scala.util.hashing.MurmurHash3.unorderedHash(meta)
  private def salted(df: DataFrame): DataFrame =
    df.filter(lit(versionSalt) === lit(versionSalt))

  private val maxDriverDictTerms: Long = spark.conf
    .getOption("graft.maxDriverDictTerms").map(_.toLong)
    .getOrElse(1000000L)

  val terms: DataFrame = {
    val rows = meta("termCount").toLong
    // partition sizing depends on WHO scans this cache: a driver-collected
    // dictionary only pays the one collect (few fat partitions are
    // cheapest), but a BIG dictionary is scanned per query by the
    // CPU-bound fuzzy-expansion flatMap — there the row-count heuristic
    // alone left a 1.2M-term dictionary in 2 partitions, running the
    // Levenshtein scan on 2 of 32 cores (measured 710 ms p50; 32-way
    // parallelism cut it ~5×). Size to the session's parallelism so every
    // core works the scan.
    val raw = snapshot.terms
    val sized =
      if (rows <= maxDriverDictTerms) raw.coalesce(parts(rows))
      else {
        val p = math.max(spark.sparkContext.defaultParallelism, parts(rows))
        // one shuffle at handle construction (not per query), range-keyed
        // on (tlen, term) so the cached batches KEEP the byte-length
        // clustering the expansion prefilters prune on; coalesce cannot
        // raise the count above the writer's ~16 files
        if (raw.columns.contains("tlen"))
          raw.repartitionByRange(p, col("tlen"), col("term"))
        else raw.repartition(p)
      }
    salted(sized).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Driver-local dictionary when it's small enough (default ≤ 1M terms,
    * tens of MB): query expansion then runs as a local loop — ZERO Spark
    * jobs to plan a query. Big dictionaries keep the distributed scan.
    * Tunable via session conf `graft.maxDriverDictTerms` (0 disables).
    */
  val driverDict: Option[Array[graft.index.Schema.TermEntry]] =
    if (meta("termCount").toLong <= maxDriverDictTerms) {
      import spark.implicits._
      Some(terms.as[graft.index.Schema.TermEntry].collect())
    } else None

  /** Live (docId, url) liveness-filtered across base + deltas. The
    * projection is the per-query serving working set, but it grows with the
    * corpus — above ~50M docs (≈ a few GB) it must not compete with
    * execution memory, so pin it to disk-backed storage only.
    */
  val docs: DataFrame =
    salted(snapshot.docs.select("docId", "url")
      .coalesce(parts(meta("docCount").toLong)))
      .persist(
        if (meta("docCount").toLong <= 50000000L)
          StorageLevel.MEMORY_AND_DISK
        else StorageLevel.DISK_ONLY)

  // reader frames built ONCE per handle: re-creating them per query would
  // redo file listing + footer/schema reads (hundreds of ms of per-query
  // latency); the lazy plans + their FileIndex are reused by every filter.
  // The BASE blocks frame is additionally persisted when the index is small
  // enough (conf graft.maxCachedBlockPostings, default 200M postings ≈ a
  // few hundred MB encoded): per-query latency is then bounded by compute,
  // not re-scanning parquet. On a cluster this is the executor block cache;
  // at 10^12 docs the gate keeps blocks on storage where they belong.
  private val cacheBlocks: Boolean = {
    val maxPostings = spark.conf
      .getOption("graft.maxCachedBlockPostings").map(_.toLong)
      .getOrElse(200000000L)
    meta("postingCount").toLong <= maxPostings
  }
  // cached blocks get ~8M postings (≈ 25-30 MB encoded) per partition: the
  // writer's 64 file-partitions would cost a 64-task scheduling round per
  // query, which dominates p50 at small candidate sets
  private def blockParts(postings: Long): Int =
    math.max(1, math.min(64, (postings / 8000000L).toInt + 1))
  private val blocksDf: DataFrame = {
    val df = spark.read.parquet(IndexBuilder.blocksPath(indexDir))
    if (cacheBlocks)
      salted(df.coalesce(blockParts(meta("postingCount").toLong)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    else df
  }
  private val postingsDf: DataFrame =
    spark.read.parquet(IndexBuilder.postingsPath(indexDir))
  private val deltaBlocksDf: Option[DataFrame] =
    snapshot.deltaBlocks
      .map(df => if (cacheBlocks)
        salted(df.coalesce(1)).persist(StorageLevel.MEMORY_AND_DISK)
      else df)

  /** Layered blocks as typed `(_seq, TermBlock)` rows (`_seq` = 0 for
    * the base, the delta seq otherwise): the one projection every block
    * reader uses — the per-term driver fetch, the whole-index fill, the
    * distributed WAND paths and the profiling tools. `termIds = None`
    * reads every block of every layer; otherwise the base is group- and
    * termId-pruned at the parquet layer and the (small) delta layers are
    * termId-pruned. Tombstones are NOT applied here — the WAND decode
    * filter handles per-row liveness using [[tombMap]] (block-max bounds
    * stay safe upper bounds under deletes).
    */
  def layeredBlocks(termIds: Option[Seq[Long]]): Dataset[(Int, TermBlock)] = {
    import spark.implicits._
    val base = termIds.fold(blocksDf)(pruned(blocksDf, _)).drop("group")
    snapshot.layered(base, deltaBlocksDf.map(d =>
        termIds.fold(d)(ids => d.filter(col("termId").isin(ids: _*)))))
      .select(col("_seq").cast("int").as("_1"),
        struct(Encoders.product[TermBlock].schema.fieldNames.map(col): _*)
          .as("_2"))
      .as[(Int, TermBlock)]
  }

  /** Serving-node block cache: collected candidate blocks per termId, for
    * the driver-local WAND path. The reference engine holds its ENTIRE
    * index in process memory; the rebuild's analog is this cache, bounded
    * in POSTINGS (`graft.driverBlockCachePostings`, default 8M ≈ ~30 MB
    * encoded). Per-handle, so every index version (delta commit /
    * rebuild) starts clean.
    *
    * Working-set rule, chosen by index size: when every STORED posting
    * of this version (base and delta layers, replaced docs' dead ones
    * included) fits both the cap and [[IndexHandles.FillMaxPostings]], the
    * handle's first miss fills the cache with every block of every layer
    * (one Spark job, once per handle and index version, even when
    * concurrent queries miss together) and marks it complete — every later
    * search on this version fetches nothing, and a termId missing from the
    * complete cache has no blocks. Otherwise a miss fetches just the
    * missing terms (one pruned scan) and inserts past the cap evict
    * oldest-first.
    */
  private val blockCacheCap: Long = spark.conf
    .getOption("graft.driverBlockCachePostings").map(_.toLong)
    .getOrElse(8000000L)
  private val blockCache =
    TrieMap.empty[Long, Array[(Int, TermBlock)]]
  private val blockCacheOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val blockCachePostings =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val fillPostings: Long =
    math.min(blockCacheCap, IndexHandles.FillMaxPostings)

  private def cacheBlocksOf(t: Long, bs: Array[(Int, TermBlock)]): Unit =
    // putIfAbsent: a concurrent query may have inserted t already —
    // counting both inserts would inflate the postings counter forever
    // (evictions subtract each term once), silently shrinking the
    // effective cache toward zero
    if (blockCache.putIfAbsent(t, bs).isEmpty) {
      blockCachePostings.addAndGet(bs.iterator.map(_._2.n.toLong).sum)
      blockCacheOrder.add(t)
    }

  // decided, and filled, by the first miss; the live count (a lower bound
  // of the stored one) spares the footer reads on a big index
  private val blocksFilled = new IndexHandles.Once({
    val fits = meta("postingCount").toLong <= fillPostings &&
      snapshot.storedPostings <= fillPostings
    if (fits) layeredBlocks(None).collect().groupBy(_._2.termId)
      .foreach { case (t, bs) => cacheBlocksOf(t, bs) }
    fits
  })

  /** Layered candidate blocks of `termIds`, collected (driver-local WAND
    * input), served from the block cache where possible.
    */
  def candidateBlocks(termIds: Seq[Long]): Array[(Int, TermBlock)] = {
    // read hit ARRAYS first, not just membership: an eviction between a
    // contains() check and the later read (by this query's own insert
    // pass, or any concurrent query) would silently drop a term's blocks
    // from the query — a wrong-top-k bug, not a slow path
    val hitArrays: Map[Long, Array[(Int, TermBlock)]] =
      termIds.iterator.flatMap(t => blockCache.get(t).map(t -> _)).toMap
    val misses = termIds.filterNot(hitArrays.contains)
    val fetched: Array[(Int, TermBlock)] =
      if (misses.isEmpty) Array.empty
      else if (blocksFilled.get) {
        misses.iterator.flatMap(t => blockCache.getOrElse(t, Array.empty))
          .toArray
      } else {
        val f = layeredBlocks(Some(misses)).collect()
        val byTerm = f.groupBy(_._2.termId)
        misses.foreach(t => cacheBlocksOf(t, byTerm.getOrElse(t, Array.empty)))
        while (blockCachePostings.get() > blockCacheCap &&
            !blockCacheOrder.isEmpty) {
          val old = blockCacheOrder.poll()
          blockCache.remove(old).foreach(bs =>
            blockCachePostings.addAndGet(-bs.iterator.map(_._2.n.toLong).sum))
        }
        f
      }
    termIds.iterator.flatMap(t => hitArrays.getOrElse(t, Array.empty))
      .toArray ++ fetched
  }

  /** docId → url cache for result attachment, under the same working-set
    * rule as the block cache: when the live docs fit both its bound (100k
    * entries, a few MB of urls) and [[IndexHandles.FillMaxDocs]], the
    * first miss fills it with every live (docId, url) — one Spark job per
    * handle — and every later lookup on this version runs none. Otherwise
    * a miss fetches just the missing ids (one pruned scan), cached while
    * there is room: top-k ids repeat heavily across queries. Cleared with
    * the handle.
    */
  private val urlCache = TrieMap.empty[Long, String]

  private val urlsFilled = new IndexHandles.Once({
    val fits = meta("docCount").toLong <=
      math.min(urlCacheCap.toLong, IndexHandles.FillMaxDocs)
    if (fits) {
      import spark.implicits._
      docs.as[(Long, String)].collect().foreach(urlCache += _)
    }
    fits
  })

  def urlsFor(docIds: Seq[Long]): Map[Long, String] = {
    import spark.implicits._
    val misses = docIds.filterNot(urlCache.contains)
    val fetched: Map[Long, String] =
      if (misses.isEmpty) Map.empty
      else if (urlsFilled.get) Map.empty
      else {
        val f = docs.filter(col("docId").isin(misses: _*))
          .as[(Long, String)].collect()
        if (urlCache.size + f.length <= urlCacheCap) urlCache ++= f
        f.toMap
      }
    docIds.iterator
      .flatMap(id => urlCache.get(id).orElse(fetched.get(id)).map(id -> _))
      .toMap
  }

  /** Live candidate postings (liveness applied): the naive-scorer input,
    * read through the handle's [[DeltaLog.Snapshot]].
    */
  def postingsFor(termIds: Seq[Long]): DataFrame =
    snapshot.live(snapshot.layered(
      pruned(postingsDf, termIds).select("termId", "docId", "tf", "docLen"),
      snapshot.deltas("postings")
        .map(_.filter(col("termId").isin(termIds: _*)))))

  private def pruned(base: DataFrame, termIds: Seq[Long]): DataFrame = {
    val groups = termIds.map(_ % postingGroups).distinct
    base
      .filter(col("group").isin(groups: _*))
      .filter(col("termId").isin(termIds: _*))
  }

  def release(): Unit = {
    terms.unpersist()
    docs.unpersist()
    if (cacheBlocks) {
      blocksDf.unpersist()
      deltaBlocksDf.foreach(_.unpersist())
    }
    // unpersist (not destroy): an in-flight query past the displacement
    // grace can still re-fetch from the driver copy; executor memory is
    // what must not accumulate across versions
    val b = bTombV
    if (b != null) b.unpersist(false)
  }
}

object IndexHandles {
  /** Largest index whose blocks a handle's first miss collects whole, in
    * stored postings, and whose urls it collects whole, in live docs (see
    * [[IndexHandles#candidateBlocks]], [[IndexHandles#urlsFor]]). Chosen
    * from first searches on indexes of 0.26M, 1M, 4.1M and 7.9M postings
    * (4k–124k synthetic pages, `local[4]` on a 4-core host, 3 GB heap):
    * the fill made the first search after a commit 0.0–0.6 s slower up to
    * 4.1M postings and 1.8–2.0 s slower at 7.9M, while up to 4.1M it cut
    * each later first-seen search from 160–400 ms to 5–30 ms (at 7.9M, to
    * 80–110 ms, with the urls of its 124k docs fetched per id). So up to
    * 4M postings the fill pays for itself within about three first-seen
    * searches per index version, near the 8M cache cap only after five
    * or six. Above these bounds the per-term and per-id fetch runs.
    */
  private[query] val FillMaxPostings: Long = 1L << 22
  private[query] val FillMaxDocs: Long = 1L << 16

  /** `body`, run by the first `get` only; concurrent callers wait for it.
    * Each instance locks itself, not the handle, so one fill never queues
    * behind the other or behind the handle's own lazy state. A body that
    * throws runs again on the next `get`.
    */
  private[query] final class Once[T](body: => T) {
    lazy val get: T = body
  }

  private val cache = TrieMap.empty[String, IndexHandles]
  private val locks = TrieMap.empty[String, Object]

  // deferred unpersist of displaced handles: an in-flight query may still
  // hold the old handle's cached tables; releasing after a grace period
  // avoids recompute-latency spikes without keeping blocks forever
  private lazy val reaper =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-handle-reaper")
        t.setDaemon(true)
        t
      })

  // displaced handles wait out the full 60 s grace before their caches
  // are released (in-flight queries may still hold them — releasing early
  // un-persists tables whose backing files a swap has since replaced).
  // The waiting set is BOUNDED per dir: past 8 generations (pathological
  // commit rates) the oldest is force-released, trading its stragglers'
  // recompute risk for bounded executor storage — at normal rates nothing
  // is ever released before its grace elapses.
  private val pendingRelease = TrieMap
    .empty[String, scala.collection.mutable.ArrayDeque[IndexHandles]]

  private def deferRelease(dir: String, h: IndexHandles): Unit = {
    def releaseQuietly(x: IndexHandles): Unit =
      try x.release()
      catch { case _: Throwable => () } // session may already be stopped
    val q = pendingRelease.getOrElseUpdate(
      dir, scala.collection.mutable.ArrayDeque.empty)
    q.synchronized {
      q.append(h)
      while (q.size > 8) releaseQuietly(q.removeHead())
    }
    reaper.schedule(new Runnable {
      def run(): Unit = {
        val stillPending = q.synchronized {
          val i = q.indexOf(h)
          if (i >= 0) { q.remove(i); true } else false
        }
        if (stillPending) releaseQuietly(h)
      }
    }, 60, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Cached handle, validated against the CURRENT meta.json: any rebuild or
    * delta commit (deltaSeq/wallMs make every index version's meta
    * distinct) drops the stale cached tables. Swaps happen under a
    * per-indexDir lock so concurrent callers (Serve + streaming
    * foreachBatch) can't double-create handles; the displaced handle is
    * released on a delay (queries already running against it stay correct
    * either way — unpersisted tables recompute). Cost per call: one
    * small-file read.
    */
  def apply(spark: SparkSession, indexDir: String): IndexHandles = {
    val lock = locks.getOrElseUpdate(indexDir, new Object)
    lock.synchronized {
      val cur = IndexBuilder.readMeta(spark, indexDir)
      cache.get(indexDir) match {
        case Some(h) if h.meta == cur => h
        case stale =>
          val h = new IndexHandles(spark, indexDir)
          cache.put(indexDir, h)
          stale.foreach(deferRelease(indexDir, _))
          h
      }
    }
  }

  /** A handle outside the cache whose url cache holds `urlCacheCap`
    * entries: specs use it to run the per-id url lookup on a small index.
    * The caller releases it.
    */
  private[graft] def uncached(
      spark: SparkSession, indexDir: String,
      urlCacheCap: Int): IndexHandles =
    new IndexHandles(spark, indexDir, urlCacheCap)

  /** Drop cached state (call after incremental updates rewrite tables). */
  def invalidate(indexDir: String): Unit =
    cache.remove(indexDir).foreach(deferRelease(indexDir, _))
}
