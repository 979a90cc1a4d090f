package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.{Extract, Lexer}
import Schema._

/** Distributed inverted-index build (SURVEY.md §2.3, §3.1 rebuild shape):
  *
  * pages ── extract+tokenize+per-doc hash agg ──► stage_ft(url, term, tf)
  *   │     (+ 1 marker row per doc carrying warc_ts/docLen — pages is
  *   │      scanned exactly ONCE per build; everything derives from ft)
  *   ├─► docs(docId, url, warc_ts, docLen)      [dense docId = url rank]
  *   ├─► terms(termId, term, df)                [dense termId = term rank]
  *   ├─► postings/group=g (termId, docId, tf, docLen)  range-partitioned by
  *   │     (termId, docId) and sorted — head-term skew splits across
  *   │     partitions by docId sub-ranges (disjoint-range "salting")
  *   ├─► blocks/group=g — delta+varint TermBlocks with block-max metadata
  *   └─► stats, meta.json, _lineage/, build_metrics.json
  *
  * Every stage/group is checkpointed ([[Checkpoint]]); a restarted build
  * skips completed work. The per-doc term-frequency aggregation happens
  * inside mapPartitions (each doc lives in one partition), so stage_ft needs
  * NO shuffle — the first shuffles are the id assignments and the posting
  * range partition.
  */
object IndexBuilder {

  final case class BuildConf(
      partitions: Int = 32, // range partitions for postings/blocks
      postingGroups: Int = 4, // resumable group count (termId mod groups)
      blockSize: Int = Blocks.DefaultBlockSize,
      queryBuckets: Int = 64, // docId buckets aligning WAND scans
      buildId: String = "build0",
      // true elides the per-url last-write-wins dedup shuffle — only for
      // inputs that are unique-by-url by construction (e.g. an Iceberg
      // snapshot with url as the merge key, or the synthetic bench corpus)
      assumeUniqueUrls: Boolean = false,
      // merge-on-read maintenance ([[DeltaLog]]): fold deltas into the base
      // after this many sequenced updates, or sooner when tombstones exceed
      // min(fraction · live doc count, absolute cap). The fraction bounds
      // read amplification; the ABSOLUTE cap bounds the tombstone working
      // set itself — at the 10^12-doc target a fraction alone would let a
      // multi-GB tombstone map onto the query path before compaction fired
      deltaCompactEvery: Int = 8,
      tombstoneCompactFraction: Double = 0.2,
      tombstoneAbsoluteCap: Long = 10000000L)

  /** Run independent build stages concurrently on one SparkSession —
    * Spark schedules their jobs side by side, so small stages share the
    * cluster instead of each paying the full job-submission + scan floor
    * sequentially (this fixed tail was the main Amdahl drag on N→4N
    * scaling). Rethrows the first failure.
    */
  private[index] def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
      futures.foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  def ftPath(dir: String) = s"$dir/stage_ft"
  def docsPath(dir: String) = s"$dir/docs"
  def termsBasePath(dir: String) = s"$dir/terms_base"
  def termsPath(dir: String) = s"$dir/terms"
  def postingsPath(dir: String) = s"$dir/postings"
  def blocksPath(dir: String) = s"$dir/blocks"
  def statsPath(dir: String) = s"$dir/stats"

  /** Last-write-wins per-url dedup of a snapshot table: newest `warc_ts`
    * survives, deterministic content-hash tiebreak within a timestamp.
    * Shared by [[build]] and [[Incremental.update]] — a snapshot can hold
    * several rows per url (e.g. a same-second recrawl), and an un-deduped
    * update would multiply those rows through its joins (doubled tf/docLen,
    * duplicate doc rows under one docId).
    */
  private[index] def dedupSnapshot(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url")).orderBy(
      col("warc_ts").desc,
      xxhash64(coalesce(col("text"), lit("")), coalesce(col("html"), lit(""))))
    pages.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  def build(
      spark: SparkSession,
      pages: DataFrame,
      indexDir: String,
      conf: BuildConf = BuildConf()): BuildMetrics = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val cp = new Checkpoint(spark, indexDir, conf.buildId)

    // ---- upsert semantics: the reference keys docs by path and re-adding
    // replaces (model.rs add_document remove-then-insert); a snapshot table
    // can hold several rows per url, so keep only the newest warc_ts
    // (deterministic content-hash tiebreak). One shuffle on url; elided
    // when the input is unique-by-url by construction.
    val pagesIn =
      if (conf.assumeUniqueUrls) pages else dedupSnapshot(pages)

    // ---- stage ft: extract → tokenize → per-doc term counts (no shuffle)
    val ftRows = cp.stage("ft") {
      val pagesDs = pagesIn
        .select("url", "warc_ts", "html", "text")
        .as[(String, java.sql.Timestamp, Array[Byte], String)]
      val ft = pagesDs.mapPartitions { it =>
        // one interning count table per PARTITION ([[TermCounter]]):
        // epoch-bumped per doc, canonical term Strings allocated once per
        // partition — the per-occurrence token allocations in this loop
        // were what capped wide-core scaling (CPU time inflated 27%, GC
        // 6.5×, from 4 to 16 pinned cores; see BENCH/BASELINE.md)
        val tc = new TermCounter()
        it.flatMap { case (url, ts, html, text) =>
          Extract.extractText(html, text) match {
            case None => Iterator.empty // malformed XML → doc skipped
            case Some(content) =>
              tc.beginDoc()
              Lexer.foreachTokenRaw(content)(
                (cs, s, e, stemmed) => tc.add(cs, s, e, stemmed))
              if (tc.nTouched == 0) Iterator.empty // A3: empty docs skipped
              else {
                val out = new Array[FtRow](tc.nTouched + 1)
                var i = 0
                var docLen = 0L
                while (i < tc.nTouched) {
                  val slot = tc.touched(i)
                  val tf = tc.countAt(slot)
                  out(i) = FtRow(url, tc.termAt(slot), tf, null, 0L,
                    m = false)
                  docLen += tf
                  i += 1
                }
                // per-doc marker row: term=null, carries (warc_ts, docLen)
                out(i) = FtRow(url, null, 0, ts, docLen, m = true)
                out.iterator
              }
          }
        }
      }
      // partitionBy(m): markers land in their own files (no shuffle — each
      // task just writes two files), so downstream stages scan ONLY the
      // side they need
      ft.write.mode("overwrite").partitionBy("m").parquet(ftPath(indexDir))
      footerRowCounts(spark,
        Seq(s"${ftPath(indexDir)}/m=true", s"${ftPath(indexDir)}/m=false"))
        .sum
    }
    // empty corpus (or every doc malformed/stop-only): the partitionBy("m")
    // write above created NO m=true/m=false directories, so the per-side
    // reads below would throw path-not-found. Short-circuit to a valid,
    // servable empty index instead (StreamIngest.maintainIndex documents
    // building the initial index over a possibly-empty snapshot).
    if (ftRows == 0L)
      return writeEmptyIndex(spark, indexDir, conf, cp, t0)

    // term rows feed postings/terms; marker rows ARE the doc metadata —
    // the pages input is never scanned again after stage ft
    val ft = spark.read.parquet(s"${ftPath(indexDir)}/m=false")
      .select($"url", $"term", $"tf")

    // ---- stages docs ∥ terms_base: independent of each other — run
    // their jobs concurrently (A2/A3; dense ids = rank in global order)
    runConcurrently(Seq(
      () => {
        cp.stage("docs") {
          // exactly one marker row per url: assign docId = url rank with
          // the (warc_ts, docLen) payload carried through the range sort —
          // no join-back against the markers
          val markers = spark.read.parquet(s"${ftPath(indexDir)}/m=true")
            .select($"url", $"warc_ts", $"docLen")
            .as[(String, java.sql.Timestamp, Long)]
          val assigned =
            DenseId.assignWithPayload(markers, "url", conf.partitions)
          assigned.ds
            .map { case (docId, (url, ts, docLen)) =>
              DocMeta(docId, url, ts, docLen)
            }
            .write.mode("overwrite").parquet(docsPath(indexDir))
          assigned.release()
          footerRowCounts(spark, Seq(docsPath(indexDir))).sum
        }
        ()
      },
      () => {
        cp.stage("terms_base") {
          val assigned = DenseId.assign(
            spark, ft.select($"term".as("value")).as[String],
            conf.partitions, idName = "termId", keyName = "term")
          assigned.df.write.mode("overwrite").parquet(termsBasePath(indexDir))
          assigned.release()
          footerRowCounts(spark, Seq(termsBasePath(indexDir))).sum
        }
        ()
      }))
    val docs = spark.read.parquet(docsPath(indexDir))
    val termsBase = spark.read.parquet(termsBasePath(indexDir))

    // ---- stage postings (grouped, resumable): join ids, range-partition by
    // (termId, docId), sort, write. Groups = termId mod postingGroups.
    val pendingGroups =
      (0 until conf.postingGroups).filter(g => !cp.done("postings", g))
    if (pendingGroups.nonEmpty) {
      // docs is the classic small-dimension side of the postings join: gate
      // an explicit broadcast on the measured doc count (docs-stage lineage
      // rows) so moderate corpora skip the 37M-row shuffle-by-url entirely
      // (the postings input becomes a narrow map over stage_ft), while at
      // 10^9+ docs the gate keeps the sort-merge path — broadcasting the
      // whole docs table to every executor would be the real scale-killer.
      val docRows = cp.readMarker("docs", -1).map(_.rows).getOrElse(Long.MaxValue)
      val broadcastDocsMax = spark.conf
        .getOption("graft.broadcastDocsMaxRows").map(_.toLong)
        .getOrElse(4000000L)
      val docsDim = docs.select($"url", $"docId", $"docLen")
      val docsJoin =
        if (docRows <= broadcastDocsMax) broadcast(docsDim) else docsDim
      val joined = ft
        .join(docsJoin, "url")
        .join(termsBase, "term")
        .select(
          $"termId", $"docId", $"tf".cast("int").as("tf"),
          $"docLen".cast("int").as("docLen"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      joined.count() // materialize the cache ONCE, in one parallel job
      if (pendingGroups.size == conf.postingGroups) {
        // fresh build: ONE range shuffle writes every group. The leading
        // `group` sort/range key keeps each group's rows in their own
        // partitionBy(group) files; the (termId, docId) tail still splits
        // head-term skew across partitions by docId sub-ranges. Replaces G
        // per-group jobs whose sample+shuffle passes re-scanned the cache
        // 2G+1 times — bandwidth-bound work that was the postings phase's
        // wide-level scaling ceiling (measured 0.56 efficiency 4→16 cores).
        val t0 = System.nanoTime()
        joined
          .withColumn("group",
            pmod($"termId", lit(conf.postingGroups)).cast("int"))
          .repartitionByRange(conf.partitions, $"group", $"termId", $"docId")
          .sortWithinPartitions($"group", $"termId", $"docId")
          .write.mode("overwrite").partitionBy("group")
          .parquet(postingsPath(indexDir))
        val wallMs = (System.nanoTime() - t0) / 1000000L
        (0 until conf.postingGroups).foreach { g =>
          cp.mark("postings", g, footerRowCounts(spark,
            Seq(s"${postingsPath(indexDir)}/group=$g")).sum, wallMs)
        }
      } else {
        // resume: only re-run the missing groups (idempotent overwrites of
        // their own group= dirs; completed groups' files are untouched)
        val perGroupParts =
          math.max(1, conf.partitions / conf.postingGroups)
        runConcurrently(pendingGroups.map(g => () => {
          cp.stage("postings", g) {
            val grp = joined
              .filter(pmod($"termId", lit(conf.postingGroups)) === g)
              .repartitionByRange(perGroupParts, $"termId", $"docId")
              .sortWithinPartitions($"termId", $"docId")
            grp.write.mode("overwrite")
              .parquet(s"${postingsPath(indexDir)}/group=$g")
            footerRowCounts(spark,
              Seq(s"${postingsPath(indexDir)}/group=$g")).sum
          }
          ()
        }))
      }
      joined.unpersist()
    }
    val postings = spark.read.parquet(
      (0 until conf.postingGroups)
        .map(g => s"${postingsPath(indexDir)}/group=$g"): _*)

    // ---- stages terms ∥ stats: independent — run concurrently. Both
    // bases include every delta an earlier index in this dir committed
    val through = DeltaLog.nextSeq(spark, indexDir) - 1
    runConcurrently(Seq(
      () => {
        // terms: df = postings per termId (A4; unique (term,doc))
        cp.stage("terms") {
          val df = postings.groupBy($"termId").agg(count(lit(1)).as("df"))
          writeTermsBase(spark, termsBase.join(df, "termId")
            .select($"termId", $"term", $"df",
              octet_length($"term").as("tlen")),
            termsPath(indexDir), conf.partitions / 4, through)
          footerRowCounts(spark, Seq(termsPath(indexDir))).sum
        }
        ()
      },
      () => {
        // stats (A5)
        cp.stage("stats") {
          writeStatsBase(spark, docs.agg(
            count(lit(1)).cast("long").as("docCount"),
            sum($"docLen").cast("long").as("totalTokens")),
            statsPath(indexDir), through)
          1L
        }
        ()
      }))
    val snap = DeltaLog.snapshot(spark, indexDir)
    val statsRow = snap.stats
    val bucketSize = math.max(
      1L, (statsRow.docCount + conf.queryBuckets - 1) / conf.queryBuckets)

    // ---- stage blocks (grouped, resumable, concurrent groups):
    // delta+varint + block-max
    runConcurrently((0 until conf.postingGroups).map(g => () => {
      cp.stage("blocks", g) {
        val grp = spark.read
          .parquet(s"${postingsPath(indexDir)}/group=$g").as[Posting]
        val bs = conf.blockSize
        val blocks = grp.mapPartitions(it =>
          Blocks.encode(it, bs, bucketSize))
        blocks.write.mode("overwrite")
          .parquet(s"${blocksPath(indexDir)}/group=$g")
        footerRowCounts(spark,
          Seq(s"${blocksPath(indexDir)}/group=$g")).sum
      }
      ()
    }))

    // ---- meta + metrics + lineage view. Per-partition posting counts come
    // from parquet FOOTERS (one row-count per written file = one per build
    // partition) — no data scan, so metrics cost stays O(files).
    val partCounts: Array[Long] = footerRowCounts(spark,
      (0 until conf.postingGroups).map(g =>
        s"${postingsPath(indexDir)}/group=$g"))
    val postingCount = partCounts.sum
    val perPartAvg =
      if (partCounts.isEmpty) 0.0 else partCounts.sum.toDouble / partCounts.length
    val perPartMax = if (partCounts.isEmpty) 0L else partCounts.max
    // one scan for every dictionary metric (termCount + df skew)
    val (termCount, dfStats) = {
      val r = snap.terms
        .agg(count(lit(1)).as("n"), max($"df").as("m"), avg($"df").as("a"))
        .as[(Long, Option[Long], Option[Double])].collect()(0)
      (r._1, (r._2.getOrElse(0L), r._3.getOrElse(0.0)))
    }
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val metrics = BuildMetrics(
      buildId = conf.buildId,
      docCount = statsRow.docCount,
      totalTokens = statsRow.totalTokens,
      termCount = termCount,
      postingCount = postingCount,
      docsPerSec = statsRow.docCount * 1000.0 / math.max(1L, wallMs),
      wallMs = wallMs,
      postingsPerPartitionAvg = perPartAvg,
      postingsPerPartitionMax = perPartMax,
      skewRatio = if (dfStats._2 == 0.0) 0.0 else dfStats._1 / dfStats._2)
    // a full rebuild over a previously-updated directory supersedes any
    // merge-on-read deltas — they describe the OLD base
    DeltaLog.clear(spark, indexDir)
    writeMeta(spark, indexDir, conf, bucketSize, metrics)
    // a rebuild over the same directory must not keep serving stale cached
    // terms/docs handles (wallMs in meta.json makes every build distinct,
    // so the meta-validated handle cache also self-heals — this is the
    // eager path)
    graft.query.IndexHandles.invalidate(indexDir)
    metrics
  }

  /** Writes a valid zero-doc index (all tables present with their schemas,
    * stats = (0, 0), lineage markers for every stage) so every read path —
    * handles, search, incremental update, streaming ingest — works on an
    * empty initial snapshot.
    */
  private def writeEmptyIndex(
      spark: SparkSession,
      indexDir: String,
      conf: BuildConf,
      cp: Checkpoint,
      t0: Long): BuildMetrics = {
    import spark.implicits._
    Seq.empty[DocMeta].toDS.coalesce(1)
      .write.mode("overwrite").parquet(docsPath(indexDir))
    val through = DeltaLog.nextSeq(spark, indexDir) - 1
    writeTermsBase(spark, Seq.empty[(Long, String, Long, Int)]
      .toDF("termId", "term", "df", "tlen"), termsPath(indexDir), 1, through)
    writeStatsBase(spark, Seq(Stats(0L, 0L)).toDF(), statsPath(indexDir),
      through)
    (0 until conf.postingGroups).foreach { g =>
      Seq.empty[Posting].toDS.coalesce(1).write.mode("overwrite")
        .parquet(s"${postingsPath(indexDir)}/group=$g")
      Seq.empty[TermBlock].toDS.coalesce(1).write.mode("overwrite")
        .parquet(s"${blocksPath(indexDir)}/group=$g")
      cp.stage("postings", g)(0L)
      cp.stage("blocks", g)(0L)
    }
    Seq("docs", "terms_base", "terms", "stats").foreach(s => cp.stage(s)(0L))
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val metrics = BuildMetrics(conf.buildId, 0L, 0L, 0L, 0L, 0.0, wallMs,
      0.0, 0L, 0.0)
    DeltaLog.clear(spark, indexDir)
    // NOT bucketSize=1: every delta encodes blocks with meta's bucketSize,
    // and docCount 0 would degenerate a streaming-bootstrapped index to
    // one-posting-per-block until the first compaction heals it. 2^20 docs
    // per bucket is a sane coarse default for a growing index; compact()
    // re-derives the exact value from the live docId range.
    writeMeta(spark, indexDir, conf, bucketSize = 1L << 20, metrics)
    graft.query.IndexHandles.invalidate(indexDir)
    metrics
  }

  /** The one writer of the dictionary BASE table: the build's terms
    * stage, the empty index and the compaction fold. It is written
    * clustered by byte length (tlen) so the fuzzy-expansion prefilter
    * `tlen ≤ maxLen` prunes whole parquet row groups / cache batches at
    * huge dictionaries (SURVEY §7.4 risk 7 — the reference scans its
    * entire gtf per token), and stamped with `through`, the highest delta
    * seq it includes ([[DeltaLog.Snapshot.terms]]).
    */
  private[index] def writeTermsBase(spark: SparkSession, terms: DataFrame,
      dest: String, parts: Int, through: Int): Unit = {
    terms.select("termId", "term", "df", "tlen")
      .repartitionByRange(math.max(1, parts), col("tlen"), col("term"))
      .sortWithinPartitions("tlen", "term")
      .write.mode("overwrite").parquet(dest)
    DeltaLog.writeStamp(spark, dest, through)
  }

  /** The one writer of the stats BASE table, stamped like the terms. */
  private[index] def writeStatsBase(spark: SparkSession, stats: DataFrame,
      dest: String, through: Int): Unit = {
    stats.select("docCount", "totalTokens").coalesce(1)
      .write.mode("overwrite").parquet(dest)
    DeltaLog.writeStamp(spark, dest, through)
  }

  /** Row count of one parquet file from its FOOTER (no data read). */
  def footerRowCount(
      st: org.apache.hadoop.fs.FileStatus,
      hconf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(st, hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Row count of every parquet data file under `dirs`, read from footers
    * only (each written file = one build partition).
    */
  def footerRowCounts(
      spark: SparkSession, dirs: Seq[String]): Array[Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.getPath.getName.endsWith(".parquet"))
        .map(footerRowCount(_, hconf))
    }.toArray
  }

  private def writeMeta(
      spark: SparkSession,
      indexDir: String,
      conf: BuildConf,
      bucketSize: Long,
      m: BuildMetrics): Unit = {
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // temp + rename: per-request handle resolution reads meta.json
    // concurrently, and an in-place overwrite has a truncated-content
    // window that would fail the request or key a handle to garbage meta
    DeltaLog.writeAtomicString(fs, s"$indexDir/meta.json",
      s"""{"format":3,"buildId":"${conf.buildId}",""" +
        s""""blockSize":${conf.blockSize},""" +
        s""""bucketSize":$bucketSize,"queryBuckets":${conf.queryBuckets},""" +
        s""""postingGroups":${conf.postingGroups},"deltaSeq":0,""" +
        s""""docCount":${m.docCount},"totalTokens":${m.totalTokens},""" +
        s""""termCount":${m.termCount},"postingCount":${m.postingCount},""" +
        s""""docsPerSec":${m.docsPerSec},"wallMs":${m.wallMs},""" +
        s""""postingsPerPartitionAvg":${m.postingsPerPartitionAvg},""" +
        s""""postingsPerPartitionMax":${m.postingsPerPartitionMax},""" +
        s""""skewRatio":${m.skewRatio}}""")
  }

  /** Read-modify-write of meta.json fields (numbers written raw, everything
    * else quoted). Incremental updates keep the counts the handle cache and
    * sizing heuristics read current without recomputing build metrics.
    */
  def updateMeta(
      spark: SparkSession,
      indexDir: String,
      updates: Map[String, String]): Unit = {
    val prev = readMeta(spark, indexDir)
    // metaRev: every meta rewrite MUST yield a distinct map. Handle swaps
    // (IndexHandles.apply) and cache isolation (versionSalt) both key off
    // meta equality; a rewrite whose visible fields all land on their old
    // values — compaction recomputing the same bucketSize with deltaSeq
    // already at compactedThrough — would otherwise salt the fresh
    // handle's plans identically to the displaced handle's and re-attach
    // its persisted PRE-compaction blocks/docs (wrong results, not just
    // staleness: the fold's new postings don't exist in the old cache).
    val merged = prev ++ updates +
      ("metaRev" -> (prev.getOrElse("metaRev", "0").toLong + 1L).toString)
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val numeric = "^-?[0-9.eE]+$".r
    val body = merged.toSeq.sortBy(_._1).map { case (k, v) =>
      val vv = if (numeric.findFirstIn(v).isDefined) v else "\"" + v + "\""
      s""""$k":$vv"""
    }.mkString("{", ",", "}")
    // temp + rename, same as writeMeta: concurrent readers must never see
    // a truncated meta.json mid-commit
    DeltaLog.writeAtomicString(fs, s"$indexDir/meta.json", body)
  }

  /** Reads meta.json as a simple key→string map. */
  def readMeta(spark: SparkSession, indexDir: String): Map[String, String] = {
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$indexDir/meta.json")
    val s = new String(DeltaLog.readSmallBytes(fs, p),
      StandardCharsets.UTF_8)
    "\"(\\w+)\":(\"[^\"]*\"|[-0-9.eE]+)".r
      .findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\""))
      .toMap
  }
}
