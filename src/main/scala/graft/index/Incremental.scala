package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.{Extract, Lexer}
import Schema._

/** Incremental index maintenance (SURVEY.md §2.4, M1–M6): given a NEW
  * corpus snapshot, re-index only docs that are new or stale
  * (`warc_ts` newer than indexed — M1), purge docs that disappeared (M3),
  * and apply everything as deltas (M2/M4):
  *
  *   - docIds stay STABLE for surviving urls; new urls get ids above the
  *     old max, ranked by url (deterministic);
  *   - `terms.df` changes by a signed delta (±1 per unique term per
  *     changed doc), not a full recount; terms reaching df = 0 are dropped
  *     (the reference keeps zero-df `gtf` entries, which NaN-poison its own
  *     TF-IDF scores — model.rs:169 divides by 0 — so the rebuild
  *     deliberately cleans them; SURVEY.md §2.6.5);
  *   - every change is committed as a MERGE-ON-READ delta ([[DeltaLog]]):
  *     one small sequenced directory of added rows + encoded blocks + doc
  *     rows + signed df and stats changes + tombstones. No base file is
  *     rewritten — a 1-doc update writes O(1 doc) bytes, not O(index) or
  *     O(vocabulary). Readers see base + deltas through the views; deltas
  *     fold into the base when [[IndexBuilder.BuildConf.deltaCompactEvery]]
  *     accumulate or tombstones exceed `tombstoneCompactFraction` of the
  *     corpus ([[compact]]);
  *   - "save only if changed" (S9): an empty delta writes nothing.
  *
  * On Iceberg this maps to MERGE INTO / positional-delete files with
  * snapshot isolation; on plain parquet the delta commit is made atomic by
  * writing the tombstone table last (= the commit marker), with
  * [[recover]] rebuilding a crashed commit's post-marker meta from the
  * views.
  */
object Incremental {

  final case class UpdateReport(
      added: Long,
      reindexed: Long,
      removed: Long,
      changed: Boolean,
      compacted: Boolean = false)

  /** `purgeVanished = false` turns the snapshot diff into an UPSERT-ONLY
    * delta: urls absent from `pagesNew` are left untouched instead of
    * purged (M3 skipped). This is the streaming-ingest contract — a
    * micro-batch is a partial feed, not a full snapshot (M5's "visited
    * set" is then the whole stream history, not one batch).
    */
  def update(
      spark: SparkSession,
      pagesNew: DataFrame,
      indexDir: String,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf(),
      purgeVanished: Boolean = true)
      : UpdateReport = {
    import spark.implicits._

    recover(spark, indexDir) // roll forward any crashed commit first
    // a compaction interrupted mid-fold (intent present, deltas still
    // visible) must finish before this update writes new delta blocks —
    // they would otherwise encode with the pre-compaction bucketSize while
    // some base groups already carry the new one
    if (readCompactingIntent(spark, indexDir).isDefined &&
        DeltaLog.listSeqs(spark, indexDir).nonEmpty)
      compact(spark, indexDir, conf)

    val snap = DeltaLog.snapshot(spark, indexDir)
    val docs = snap.docs
    val postingsOld = snap.postings
      .select($"termId", $"docId", $"tf", $"docLen")

    // last-write-wins per-url dedup, same as build(): a snapshot with two
    // rows for one url would otherwise multiply through the joins below
    // (pageKeys × changedPages → 4 copies, summed tf/docLen doubled,
    // duplicate doc rows under a single docId)
    val pagesIn =
      if (conf.assumeUniqueUrls) pagesNew
      else IndexBuilder.dedupSnapshot(pagesNew)
    val pageKeys = pagesIn.select($"url", $"warc_ts".as("new_ts"))

    // M1: new or stale urls
    val joined = pageKeys.join(
      docs.select($"url", $"warc_ts".as("old_ts"), $"docId".as("oldDocId")),
      Seq("url"), "left")
    val toIndexUrls = joined
      .filter($"old_ts".isNull || $"new_ts" > $"old_ts")
      .select($"url", $"oldDocId")
    // M3: purge urls no longer present (full-snapshot mode only)
    val removedDocs =
      if (purgeVanished)
        docs.join(pageKeys, Seq("url"), "left_anti")
          .select($"url", $"docId")
      else
        docs.select($"url", $"docId").limit(0)

    val nToIndex = toIndexUrls.count()
    val nRemoved = removedDocs.count()
    if (nToIndex == 0 && nRemoved == 0)
      return UpdateReport(0, 0, 0, changed = false) // S9: skip save

    // extract + tokenize ONLY the changed pages. A doc whose extraction
    // FAILS keeps its old indexed version (main.rs:196-202: parse error →
    // continue, old entry neither replaced nor purged); a doc that extracts
    // to zero surviving tokens is REMOVED and not re-added (add_document
    // removes first, then skips the empty insert — model.rs:229-247).
    // Marker rows (term = null) carry "extraction succeeded" per url.
    val changedPages = pagesIn
      .join(toIndexUrls.select("url"), "url")
      .select("url", "warc_ts", "html", "text")
      .as[(String, java.sql.Timestamp, Array[Byte], String)]
    val ftDeltaRaw = changedPages.mapPartitions { it =>
      // same zero-alloc count table as the build's ft stage — the
      // HashMap[String, Integer] loop this replaced was the measured
      // allocation-bandwidth wall TermCounter exists to avoid (27% CPU,
      // 6.5× GC at 16 cores; see TermCounter's doc), and a bulk re-index
      // batch approaches build-sized input
      val tc = new TermCounter()
      it.flatMap { case (url, ts, html, text) =>
        Extract.extractText(html, text) match {
          case None => Iterator.empty // malformed → old version survives
          case Some(content) =>
            tc.beginDoc()
            Lexer.foreachTokenRaw(content)(
              (cs, s, e, stemmed) => tc.add(cs, s, e, stemmed))
            val out = new Array[(String, java.sql.Timestamp, String, Int)](
              tc.nTouched + 1)
            out(0) = ((url, ts, null, 0)) // extraction-succeeded marker
            var i = 0
            while (i < tc.nTouched) {
              val slot = tc.touched(i)
              out(i + 1) = ((url, ts, tc.termAt(slot), tc.countAt(slot)))
              i += 1
            }
            out.iterator
        }
      }
    }.toDF("url", "warc_ts", "term", "tf")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val extractedOkUrls = ftDeltaRaw.filter($"term".isNull).select("url")
    val ftDelta = ftDeltaRaw.filter($"term".isNotNull)

    val docLenDelta = ftDelta.groupBy($"url", $"warc_ts")
      .agg(sum($"tf").cast("long").as("docLen"))

    // docId assignment: keep old ids for re-indexed urls; rank new urls
    // above the previous max over EVERY layer ever written (dead included
    // — a live tombstone must never shadow a reused id). A3 holds:
    // empty/malformed docs never surface in ftDelta → no id, not indexed.
    val maxDocId = snap.docsAllLayers
      .agg(coalesce(max($"docId"), lit(-1L))).as[Long].collect()
      .headOption.getOrElse(-1L) // empty initial index → ids start at 0
    val withOld = docLenDelta.join(
      toIndexUrls.filter($"oldDocId".isNotNull), Seq("url"), "inner")
      .select($"url", $"warc_ts", $"docLen", $"oldDocId".as("docId"))
    val newUrls = docLenDelta.join(
      toIndexUrls.filter($"oldDocId".isNotNull).select("url"),
      Seq("url"), "left_anti")
    val assigned = DenseId.assign(spark,
      newUrls.select($"url".as("value")).as[String],
      conf.partitions, idName = "newId", keyName = "url")
    val withNew = newUrls.join(assigned.df, "url")
      .select($"url", $"warc_ts", $"docLen",
        ($"newId" + lit(maxDocId + 1)).as("docId"))
    val docsDelta = withOld.unionByName(withNew)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // affected docIds: stale docs whose NEW extraction succeeded (their old
    // version is replaced/emptied) + removed urls. Malformed re-extractions
    // keep the old version (not affected). These become the tombstones.
    val affectedOld = toIndexUrls.filter($"oldDocId".isNotNull)
      .join(extractedOkUrls, "url")
      .select($"oldDocId".as("docId"))
      .unionByName(removedDocs.select($"docId"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // stats change, and the report counts: new docs are the ids above the
    // old max; every affected docId is a live doc
    val (deltaTokens, deltaDocs, nAdded) = docsDelta
      .agg(coalesce(sum($"docLen"), lit(0L)), count(lit(1)),
        count(when($"docId" > maxDocId, 1)))
      .as[(Long, Long, Long)].head()
    val (removedTokens, nAffected) = docs.join(affectedOld, "docId")
      .agg(coalesce(sum($"docLen"), lit(0L)), count(lit(1)))
      .as[(Long, Long)].head()
    if (nAffected == 0 && nAdded == 0) {
      // only perpetually-malformed stale docs → nothing actually changed
      // (reference: parse error → continue, processed not incremented,
      // save skipped — main.rs:196-202, 267-272)
      Seq(ftDeltaRaw, docsDelta, affectedOld).foreach(_.unpersist())
      assigned.release()
      return UpdateReport(0, 0, 0, changed = false)
    }
    val statsDelta =
      Stats(deltaDocs - nAffected, deltaTokens - removedTokens)

    // termId assignment for brand-new terms
    val termsOld = snap.terms
    val termDeltaNames = ftDelta.select($"term").distinct()
      .join(termsOld.select($"term"), Seq("term"), "left_anti")
    val maxTermId = snap.termIdsAllLayers
      .agg(coalesce(max($"termId"), lit(-1L))).as[Long].head()
    val newTermIds = DenseId.assign(spark,
      termDeltaNames.select($"term".as("value")).as[String],
      conf.partitions, idName = "newTid", keyName = "term")
    val termIdMap = termsOld.select($"term", $"termId", $"df".as("dfOld"))
      .unionByName(newTermIds.df.select($"term",
        ($"newTid" + lit(maxTermId + 1)).as("termId"), lit(0L).as("dfOld")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // postings delta rows
    val postingsAdd = ftDelta
      .join(docsDelta.select($"url", $"docId", $"docLen"), "url")
      .join(termIdMap, "term")
      .select($"termId", $"docId", $"tf".cast("int").as("tf"),
        $"docLen".cast("int").as("docLen"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // df change: -1 per (term, removed-or-stale doc), +1 per added posting.
    // A term is new iff its old df is 0 (the view holds only df > 0)
    val dfChange = postingsOld.join(affectedOld, "docId")
      .groupBy($"termId").agg(count(lit(1)).as("minus"))
      .join(postingsAdd.groupBy($"termId").agg(count(lit(1)).as("plus")),
        Seq("termId"), "full")
      .join(termIdMap.select($"termId", $"term", $"dfOld"), Seq("termId"),
        "left")
      .select($"termId", $"term", coalesce($"dfOld", lit(0L)).as("dfOld"),
        coalesce($"minus", lit(0L)).as("minus"),
        coalesce($"plus", lit(0L)).as("plus"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newName = when($"dfOld" === 0L, $"term")

    val meta = IndexBuilder.readMeta(spark, indexDir)
    val bucketSize = math.max(1L, meta("bucketSize").toLong)

    // ---- writes (commit protocol; [[recover]] is its crash half):
    //   1. delta tables (postings/blocks/docs, df and stats changes) —
    //      invisible until 2
    //   2. tombstone table, then the `_committed` marker
    //      (DeltaLog.commitDelta)
    //   3. meta refresh
    // No base table is written, so no read plan can outlive its files. A
    // crash before 2 leaves the old index fully intact (the retry
    // recomputes everything from unchanged state and overwrites the
    // orphans); a crash after 2 leaves stale meta, which recover()
    // rebuilds from the views.
    val seq = DeltaLog.nextSeq(spark, indexDir)
    val nPostingsAdd = DeltaLog.writeDeltaData(spark, indexDir, seq,
      postingsAdd = postingsAdd,
      docsAdd = docsDelta.select($"docId", $"url", $"warc_ts", $"docLen"),
      termsDelta = dfChange.filter($"plus" =!= $"minus")
        .select($"termId", newName.as("term"),
          octet_length(newName).as("tlen"), ($"plus" - $"minus").as("df")),
      statsDelta = statsDelta,
      blockSize = meta("blockSize").toInt,
      bucketSize = bucketSize,
      parts = math.max(1, math.min(4,
        conf.partitions / math.max(1, meta("postingGroups").toInt))))
    // the tombstone table holds only KILLS; docs ADDED at this seq are
    // tombstoned too, derived at read time from this delta's docs/ table
    // ([[DeltaLog.Snapshot.tombstones]]) — what keeps the fold idempotent
    // for adds while removed/ stays the kill set the compaction trigger
    // counts
    DeltaLog.commitDelta(spark, indexDir, seq, tombstones = affectedOld)

    // meta refresh: handle caches validate against meta.json, and the
    // driver-dict / cache sizing heuristics read these counts. Postings
    // added come from the written delta's footers, removed ones from the
    // df-minus sum; a term is gained when its df leaves 0, lost when it
    // reaches 0
    val (nPostingsRemoved, termsGained, termsLost) = dfChange
      .agg(coalesce(sum($"minus"), lit(0L)),
        count(when($"dfOld" === 0L && $"plus" > $"minus", 1)),
        count(when($"dfOld" > 0L && $"dfOld" + $"plus" - $"minus" <= 0L, 1)))
      .as[(Long, Long, Long)].head()
    val statsOld = snap.stats
    val statsNew = Stats(statsOld.docCount + statsDelta.docCount,
      statsOld.totalTokens + statsDelta.totalTokens)
    IndexBuilder.updateMeta(spark, indexDir, Map(
      "docCount" -> statsNew.docCount.toString,
      "totalTokens" -> statsNew.totalTokens.toString,
      "termCount" ->
        (meta("termCount").toLong + termsGained - termsLost).toString,
      "postingCount" ->
        (meta("postingCount").toLong - nPostingsRemoved + nPostingsAdd)
          .toString,
      "deltaSeq" -> seq.toString))

    Seq(ftDeltaRaw, docsDelta, affectedOld, termIdMap, postingsAdd,
      dfChange).foreach(_.unpersist())
    assigned.release()
    newTermIds.release()
    graft.query.IndexHandles.invalidate(indexDir) // cached tables are stale

    // ---- compaction policy: fold deltas into the base when enough VISIBLE
    // deltas have accumulated (seqs are monotonic across compactions), or
    // KILL tombstones (a pure add kills nothing) grew past min(fraction of
    // the corpus — read amplification —, absolute cap — the tombstone
    // working set), or the DERIVED liveness set (kills + add-tombstones,
    // what the query handles collect) crossed the cap the handles gate on:
    // a pure-add bulk ingest must not pin queries on the distributed path
    // for up to deltaCompactEvery more updates (footer counts, no job)
    val visible = DeltaLog.snapshot(spark, indexDir)
    val tombCount = visible.kills
      .map(_.select($"docId").distinct().count()).getOrElse(0L)
    val tombTrigger = math.min(
      conf.tombstoneCompactFraction * math.max(1L, statsNew.docCount),
      conf.tombstoneAbsoluteCap.toDouble)
    val shouldCompact =
      visible.seqs.size >= conf.deltaCompactEvery ||
        tombCount > tombTrigger || visible.overflow
    if (shouldCompact) compact(spark, indexDir, conf)

    UpdateReport(
      added = nAdded,
      reindexed = deltaDocs - nAdded,
      removed = nRemoved,
      changed = true,
      compacted = shouldCompact)
  }

  /** Folds all deltas into the base tables: live postings are re-range-
    * partitioned and rewritten per group (concurrently — groups are
    * independent), blocks re-encoded, the docs table rewritten live-only,
    * the terms and stats views written as the new bases (stamped with the
    * highest seq folded), and the delta log cleared. Cost is one base
    * rewrite amortized over `deltaCompactEvery` updates — the
    * Iceberg-compaction analog.
    */
  def compact(
      spark: SparkSession,
      indexDir: String,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf()): Unit = {
    import spark.implicits._
    recover(spark, indexDir) // a crashed commit must be rolled forward first
    val snap = DeltaLog.snapshot(spark, indexDir)
    if (snap.seqs.isEmpty) return
    val meta = IndexBuilder.readMeta(spark, indexDir)
    val g = meta("postingGroups").toInt
    val blockSize = meta("blockSize").toInt
    val perGroupParts = math.max(1, conf.partitions / g)

    // materialize the live views BEFORE overwriting the base files they read
    val live = snap.postings
      .select($"termId", $"docId", $"tf".cast("int").as("tf"),
        $"docLen".cast("int").as("docLen"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    live.count()
    val docsLive = snap.docs
      .persist(StorageLevel.MEMORY_AND_DISK)
    docsLive.count()

    // re-derive bucketSize from the LIVE docId range (an index bootstrapped
    // from an empty snapshot carries a degenerate one; a grown corpus needs
    // coarser buckets). The fold is the only safe place: bucketSize must be
    // uniform across all blocks WAND aligns, which holds exactly when base
    // is rewritten and deltas cleared together. The value is recorded as a
    // _compacting INTENT before any base file changes, so a crashed fold
    // restarts with the same value instead of leaving some groups encoded
    // with a bucketSize meta does not advertise to future delta writers.
    val bucketSize = readCompactingIntent(spark, indexDir).getOrElse {
      val queryBuckets = meta.get("queryBuckets").map(_.toInt)
        .getOrElse(conf.queryBuckets)
      val maxDocId = docsLive.agg(coalesce(max($"docId"), lit(0L)))
        .as[Long].head()
      val b = math.max(1L, (maxDocId + queryBuckets) / queryBuckets)
      writeCompactingIntent(spark, indexDir, b)
      b
    }

    // groups are independent — rewrite + re-encode them concurrently,
    // like the build does
    IndexBuilder.runConcurrently((0 until g).map(grp => () => {
      val newGrp = live
        .filter(pmod($"termId", lit(g)) === grp)
        .repartitionByRange(perGroupParts, $"termId", $"docId")
        .sortWithinPartitions($"termId", $"docId")
        .persist(StorageLevel.MEMORY_AND_DISK)
      writeTemp(spark, s"${IndexBuilder.postingsPath(indexDir)}/group=$grp")(
        newGrp.write.mode("overwrite").parquet(_))
      val blocks = spark.read
        .parquet(s"${IndexBuilder.postingsPath(indexDir)}/group=$grp")
        .as[Posting]
        .mapPartitions(it => Blocks.encode(it, blockSize, bucketSize))
      writeTemp(spark, s"${IndexBuilder.blocksPath(indexDir)}/group=$grp")(
        blocks.write.mode("overwrite").parquet(_))
      newGrp.unpersist()
      ()
    }))
    writeTemp(spark, IndexBuilder.docsPath(indexDir))(
      docsLive.write.mode("overwrite").parquet(_))
    // terms and stats: each view is staged, stamped and swapped with its
    // data, so a restarted fold or a reader before clear() adds no delta twice
    val stats = Seq(snap.stats).toDF()
    writeTemp(spark, IndexBuilder.termsPath(indexDir))(
      IndexBuilder.writeTermsBase(spark, snap.terms, _, conf.partitions / 4,
        snap.seqs.last))
    writeTemp(spark, IndexBuilder.statsPath(indexDir))(
      IndexBuilder.writeStatsBase(spark, stats, _, snap.seqs.last))
    DeltaLog.clear(spark, indexDir)
    // the compacted floor is recorded REDUNDANTLY here: meta.json and the
    // _compacted marker each alone carry it (compactedThrough takes the
    // max), so losing one file never re-exposes folded deltas
    val floor = DeltaLog.compactedThrough(spark, indexDir)
    IndexBuilder.updateMeta(spark, indexDir, Map(
      "deltaSeq" -> floor.toString,
      "compactedThrough" -> floor.toString,
      "bucketSize" -> bucketSize.toString))
    dropCompactingIntent(spark, indexDir)
    live.unpersist()
    docsLive.unpersist()
    graft.query.IndexHandles.invalidate(indexDir)
  }

  private def intent(spark: SparkSession, dir: String) =
    (DeltaLog.fs(spark, dir), new org.apache.hadoop.fs.Path(s"$dir/_compacting"))

  private[index] def readCompactingIntent(
      spark: SparkSession, indexDir: String): Option[Long] = {
    val (f, p) = intent(spark, indexDir)
    Some(DeltaLog.readNumber(f, p)).filter(_ > 0)
  }

  private[index] def writeCompactingIntent(
      spark: SparkSession, indexDir: String, bucketSize: Long): Unit = {
    val (f, p) = intent(spark, indexDir)
    DeltaLog.writeAtomicString(f, p.toString, bucketSize.toString)
  }

  private def dropCompactingIntent(
      spark: SparkSession, indexDir: String): Unit = {
    val (f, p) = intent(spark, indexDir)
    if (f.exists(p)) f.delete(p, false)
  }

  /** Overwrite a table that the plan also READS: `write` stages it to a
    * sibling temp dir, then it is swapped in (parquet has no snapshot
    * isolation — Iceberg would commit atomically instead). The staging dir
    * is UNDERSCORE-prefixed (`_tmp_group=N`, not `group=N__tmp`): Spark's
    * file listing skips underscore paths, so a concurrent handle doing
    * partition discovery on postingsPath/blocksPath can never list the
    * half-written dir and corrupt `group` partition-column inference (or
    * trip on its `_temporary` contents).
    */
  private def writeTemp(spark: SparkSession, dest: String)(
      write: String => Unit): Unit = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = DeltaLog.fs(spark, dest)
    val tmp = new org.apache.hadoop.fs.Path(
      destPath.getParent, "_tmp_" + destPath.getName)
    write(tmp.toString)
    if (fs.exists(destPath)) fs.delete(destPath, true)
    fs.rename(tmp, destPath)
  }

  /** Crash half of the delta commit protocol: a crash after a commit
    * marker but before the meta refresh leaves meta advertising an older
    * `deltaSeq` than the last committed delta; the counts are then rebuilt
    * from the views. (A crash before the marker leaves an invisible delta
    * dir that the retry overwrites — nothing to do here.) Called from
    * update() and compact(); single-writer per index dir, like all
    * maintenance here.
    */
  def recover(spark: SparkSession, indexDir: String): Unit = {
    val snap = DeltaLog.snapshot(spark, indexDir)
    val metaDrift = snap.seqs.nonEmpty &&
      IndexBuilder.readMeta(spark, indexDir)
        .get("deltaSeq").flatMap(s =>
          scala.util.Try(s.toInt).toOption).getOrElse(0) < snap.seqs.last
    if (metaDrift) {
      val stats = snap.stats
      IndexBuilder.updateMeta(spark, indexDir, Map(
        "docCount" -> stats.docCount.toString,
        "totalTokens" -> stats.totalTokens.toString,
        "termCount" -> snap.terms.count().toString,
        "postingCount" -> snap.postings.count().toString,
        "deltaSeq" -> snap.seqs.last.toString))
      graft.query.IndexHandles.invalidate(indexDir)
    }
    // a compaction that crashed AFTER folding + clearing but BEFORE its
    // meta refresh: no deltas remain, the intent still holds the
    // bucketSize every rewritten block was encoded with — finish the meta
    // and drop the intent. (An intent WITH deltas still visible means the
    // fold itself was interrupted; update()/compact() restart it.)
    readCompactingIntent(spark, indexDir) match {
      case Some(b) if snap.seqs.isEmpty =>
        val floor = DeltaLog.compactedThrough(spark, indexDir)
        IndexBuilder.updateMeta(spark, indexDir, Map(
          "bucketSize" -> b.toString,
          "deltaSeq" -> floor.toString,
          "compactedThrough" -> floor.toString))
        dropCompactingIntent(spark, indexDir)
        graft.query.IndexHandles.invalidate(indexDir)
      case _ => ()
    }
  }
}
