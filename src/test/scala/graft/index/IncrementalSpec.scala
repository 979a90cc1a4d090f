package graft.index

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synth
import graft.oracle.RefModel
import graft.query.Search
import graft.text.Extract

/** M1–M6: incremental update ≡ full rebuild (modulo id assignment), plus
  * the reference's staleness/purge/error semantics.
  */
class IncrementalSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexBuilder.BuildConf(
    partitions = 8, postingGroups = 2, queryBuckets = 8)

  private def later(ts: Timestamp): Timestamp =
    new Timestamp(ts.getTime + 3600 * 1000L)

  // v1: docs 0..299. v2: 0..339 with edits:
  //  - i % 7 == 3  → text replaced, ts bumped (stale → re-index)
  //  - i % 50 == 11 → deleted (purge)
  //  - i == 21     → becomes stop-words-only, ts bumped (→ removed, A3)
  //  - i == 24     → becomes malformed XML, ts bumped (→ OLD version kept)
  //  - 300..339    → brand new
  private val v1: IndexedSeq[Synth.PageRow] = Synth.pages(300)
  private val v2: IndexedSeq[Synth.PageRow] = {
    val edited = v1.flatMap { p =>
      val i = p.url.split("/")(3).toLong
      if (i % 50 == 11) None
      else if (i == 21)
        Some(p.copy(text = "the is and of to", html = null,
          warc_ts = later(p.warc_ts)))
      else if (i == 24)
        Some(p.copy(html = "<broken><xml".getBytes(StandardCharsets.UTF_8),
          text = null, warc_ts = later(p.warc_ts)))
      else if (i % 7 == 3)
        Some(p.copy(
          text = s"fresh edited shader texture content $i opengl revision",
          html = null, warc_ts = later(p.warc_ts)))
      else Some(p)
    }
    edited ++ (300 until 340).map(i => Synth.page(i.toLong))
  }

  private def df(rows: IndexedSeq[Synth.PageRow]) =
    spark.createDataset(rows.map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang))).toDF()

  private lazy val updatedDir = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val report = Incremental.update(spark, df(v2), dir, conf)
    assert(report.changed)
    assert(report.removed == 6) // i % 50 == 11 → 11, 61, ..., 261
    assert(report.added == 40)
    dir
  }

  private lazy val freshDir = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_fresh_").toString
    // fresh build of the v2 state the reference would hold: doc 24 keeps
    // its V1 content (malformed re-extraction is skipped)
    val refState = v2.map { p =>
      val i = p.url.split("/")(3).toLong
      if (i == 24) v1(24) else p
    }
    IndexBuilder.build(spark, df(refState), dir, conf)
    dir
  }

  /** Oracle driven through the reference's index_directory flow over v2. */
  private lazy val oracle: RefModel = {
    val m = new RefModel()
    v1.foreach(p => Extract.extractText(p.html, p.text).foreach(t =>
      m.addDocument(p.url, t, p.warc_ts.getTime)))
    v2.foreach { p =>
      if (m.requiresReindexing(p.url, p.warc_ts.getTime)) {
        Extract.extractText(p.html, p.text) match {
          case Some(t) => m.addDocument(p.url, t, p.warc_ts.getTime)
          case None => // parse error → old version survives
        }
      }
    }
    val visited = v2.map(_.url).toSet
    m.docs.keys.filterNot(visited).toVector
      .foreach(m.removeDocument)
    m
  }

  test("update report counts: 6 removed, 40 added, stale set reindexed") {
    updatedDir // assertions inside
  }

  test("duplicate urls in one snapshot: last-write-wins ≡ winners-only " +
      "build (model.rs add_document upsert)") {
    val winners = v1.take(40)
    val losers = winners.take(15).map(p => p.copy(
      text = s"outdated superseded body for ${p.url}", html = null,
      warc_ts = new Timestamp(p.warc_ts.getTime - 7200 * 1000L)))
    val dupDir = java.nio.file.Files
      .createTempDirectory("graft_dup_").toString
    val winDir = java.nio.file.Files
      .createTempDirectory("graft_win_").toString
    IndexBuilder.build(spark, df(losers ++ winners), dupDir, conf)
    IndexBuilder.build(spark, df(winners), winDir, conf)
    def flat(dir: String): Set[(String, String, Int, Int)] = {
      val docs = spark.read.parquet(IndexBuilder.docsPath(dir))
        .select($"docId", $"url")
      val terms = DeltaLog.snapshot(spark, dir).terms
        .select($"termId", $"term")
      spark.read.parquet(IndexBuilder.postingsPath(dir))
        .join(docs, "docId").join(terms, "termId")
        .select($"url", $"term", $"tf", $"docLen")
        .as[(String, String, Int, Int)].collect().toSet
    }
    assert(flat(dupDir) == flat(winDir))
    // no duplicated doc rows either (the old behavior joined both copies)
    val urls = spark.read.parquet(IndexBuilder.docsPath(dupDir))
      .select($"url").as[String].collect()
    assert(urls.length == urls.distinct.length)
  }

  test("docs table ≡ fresh rebuild at (url, docLen) level; " +
      "stop-only doc gone, malformed doc keeps old version") {
    val upd = DeltaLog.snapshot(spark, updatedDir).docs
      .select($"url", $"docLen").as[(String, Long)].collect().toMap
    val fresh = spark.read.parquet(IndexBuilder.docsPath(freshDir))
      .select($"url", $"docLen").as[(String, Long)].collect().toMap
    assert(upd == fresh)
    assert(!upd.contains(v1(21).url)) // became stop-words-only
    assert(!upd.contains(v1(11).url)) // deleted
    assert(upd.contains(v1(24).url)) // malformed edit → old version kept
  }

  test("terms ≡ fresh rebuild at (term, df) level") {
    val upd = DeltaLog.snapshot(spark, updatedDir).terms
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val fresh = DeltaLog.snapshot(spark, freshDir).terms
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(upd == fresh)
  }

  /** Live (merge-on-read) flattened postings of an index directory. */
  private def flatLive(dir: String): Set[(String, String, Int, Int)] = {
    val snap = DeltaLog.snapshot(spark, dir)
    val docs = snap.docs.select($"docId", $"url")
    val terms = snap.terms
      .select($"termId", $"term")
    snap.postings
      .join(docs, "docId").join(terms, "termId")
      .select($"url", $"term", $"tf", $"docLen")
      .as[(String, String, Int, Int)].collect().toSet
  }

  test("postings ≡ fresh rebuild at (url, term, tf, docLen) level") {
    assert(flatLive(updatedDir) == flatLive(freshDir))
  }

  test("1-doc update is merge-on-read: base posting files untouched, " +
      "one small delta committed (bounded rewrite)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mor_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    def baseFiles(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 until conf.postingGroups).flatMap { g =>
        fs.listStatus(new org.apache.hadoop.fs.Path(
          s"${IndexBuilder.postingsPath(dir)}/group=$g")).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => st.getPath.toString ->
            (st.getLen, st.getModificationTime))
      }.toMap
    }
    val before = baseFiles()
    // edit exactly one doc (diverse vocabulary — the case that rewrote the
    // whole index under group-granularity rewrites)
    val v1b = v1.updated(5, v1(5).copy(
      text = "completely rewritten body texture shader opengl pipeline " +
        "buffer compile network protocol cache pointer",
      html = null, warc_ts = later(v1(5).warc_ts)))
    val report = Incremental.update(spark, df(v1b), dir, conf)
    assert(report.changed && report.reindexed == 1 && !report.compacted)
    assert(baseFiles() == before) // NO base posting file rewritten
    assert(DeltaLog.listSeqs(spark, dir) == Seq(1))
    // the delta is O(1 doc): its postings are just the edited doc's terms
    val deltaRows = spark.read
      .parquet(s"${DeltaLog.seqPath(dir, 1)}/postings").count()
    assert(deltaRows < 30)
    // and the live view serves the edit
    val got = Search.searchTop(spark, dir, "completely rewritten protocol",
      Search.Bm25, 5).select($"url").as[String].collect()
    assert(got.contains(v1(5).url))
  }

  test("compaction folds deltas into the base and preserves the live view") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    // deltaCompactEvery = 1 → the v1→v2 update compacts immediately
    val report = Incremental.update(spark, df(v2), dir,
      conf.copy(deltaCompactEvery = 1))
    assert(report.changed && report.compacted)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    assert(flatLive(dir) == flatLive(freshDir))
    // post-compaction the BASE tables alone carry the state
    val baseOnly = {
      val docs = spark.read.parquet(IndexBuilder.docsPath(dir))
        .select($"docId", $"url")
      val terms = DeltaLog.snapshot(spark, dir).terms
        .select($"termId", $"term")
      spark.read.parquet(IndexBuilder.postingsPath(dir))
        .join(docs, "docId").join(terms, "termId")
        .select($"url", $"term", $"tf", $"docLen")
        .as[(String, String, Int, Int)].collect().toSet
    }
    assert(baseOnly == flatLive(freshDir))
    // queries on the compacted index ≡ oracle
    val got = Search
      .searchTop(spark, dir, "texture array shader", Search.Bm25, 100000)
      .select($"url", $"score").as[(String, Float)].collect().toVector
    val want = oracle.searchTop("texture array shader", RefModel.Bm25, 100000)
    def groups(v: Vector[(String, Float)]): Vector[(Float, Set[String])] =
      v.groupBy(_._2).toVector.sortBy(-_._1)
        .map { case (s, rows) => (s, rows.map(_._1).toSet) }
    assert(groups(got) == groups(want))
  }

  test("empty corpus builds a valid, servable empty index") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_").toString
    val m = IndexBuilder.build(spark, df(v1).limit(0), dir, conf)
    assert(m.docCount == 0)
    assert(Search.loadStats(spark, dir) == Schema.Stats(0L, 0L))
    assert(Search.searchTop(spark, dir, "anything", Search.Bm25, 10)
      .count() == 0)
    // and it accepts a first incremental (streaming-style) upsert
    val report = Incremental.update(spark, df(v1.take(5)), dir, conf,
      purgeVanished = false)
    assert(report.changed && report.added == 5)
    assert(flatLive(dir).nonEmpty)
    val got = Search.searchTop(spark, dir, "texture", Search.Bm25, 3)
    assert(got.count() >= 0) // query path works end-to-end
  }

  test("stats ≡ fresh rebuild") {
    assert(Search.loadStats(spark, updatedDir) ==
      Search.loadStats(spark, freshDir))
  }

  test("blocks (base + delta layers, tombstones applied) decode to the " +
      "live postings view") {
    val snap = DeltaLog.snapshot(spark, updatedDir)
    val tomb = snap.tombMap
    val base = spark.read
      .parquet(IndexBuilder.blocksPath(updatedDir))
      .drop("group").withColumn("_seq", lit(0))
    val delta = snap.deltaBlocks.get
      .withColumn("_seq", $"seq".cast("int")).drop("seq")
    val fromBlocks = base.unionByName(delta)
      .select($"_seq", struct($"termId", $"bucket", $"minDocId",
        $"maxDocId", $"n", $"minTf", $"maxTf", $"minDocLen", $"maxDocLen",
        $"docIdsDelta", $"tfs", $"docLens").as("b"))
      .as[(Int, Schema.TermBlock)]
      .flatMap { case (seq, b) =>
        val d = Blocks.decode(b)
        (0 until b.n).iterator.map(i =>
          (seq, b.termId, d.docIds(i), d.tfs(i), d.docLens(i)))
      }.collect()
      .filter { case (seq, _, docId, _, _) =>
        seq >= tomb.getOrElse(docId, 0) // liveness rule
      }
      .map { case (_, t, d, tf, dl) => (t, d, tf, dl) }.toSet
    val fromPostings = snap.postings
      .select($"termId", $"docId", $"tf", $"docLen")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(fromBlocks == fromPostings)
  }

  /** After updates docIds are stable (not url ranks), so the engine's
    * (score, docId) tiebreak can permute equal-score runs vs the oracle's
    * (score, url) — rank identity is defined MODULO ties (SURVEY.md
    * §2.6.7). Compare untruncated lists as score-grouped url sets.
    */
  private def assertOracleAnswer(q: String, useWand: Boolean = true): Unit = {
    val got = Search
      .searchTop(spark, updatedDir, q, Search.Bm25, 100000, useWand = useWand)
      .select($"url", $"score").as[(String, Float)].collect().toVector
    val want = oracle.searchTop(q, RefModel.Bm25, 100000)
    def groups(v: Vector[(String, Float)]): Vector[(Float, Set[String])] =
      v.groupBy(_._2).toVector.sortBy(-_._1)
        .map { case (s, rows) => (s, rows.map(_._1).toSet) }
    assert(groups(got) == groups(want))
  }

  for (q <- Seq("texture array shader", "opengl", "fresh edited revision")) {
    test(s"query on updated index ≡ oracle after same M1-M4 flow: \"$q\"") {
      assertOracleAnswer(q)
    }
    // the handle fills its block cache whole on an index this small; a cap
    // of one posting keeps the per-term fetch of delta and base layers
    // (with tombstones) under test
    test("query on updated index ≡ oracle with the per-term block fetch: " +
        s"\"$q\"") {
      assert(graft.query.IndexHandles(spark, updatedDir).snapshot.seqs
        .nonEmpty)
      spark.conf.set("graft.driverBlockCachePostings", "1")
      graft.query.IndexHandles.invalidate(updatedDir)
      try assertOracleAnswer(q)
      finally {
        spark.conf.unset("graft.driverBlockCachePostings")
        graft.query.IndexHandles.invalidate(updatedDir)
      }
    }
    // the naive scorer reads the handle's live postings (layers joined with
    // the tombstones it collected)
    test(s"query on updated index ≡ oracle with the naive scorer: \"$q\"") {
      assertOracleAnswer(q, useWand = false)
    }
    // every query takes the bucketed WAND path, whose liveness filter is the
    // handle's broadcast tombstone map (tombstones below the cap)
    test("query on updated index ≡ oracle with forced distributed WAND: " +
        s"\"$q\"") {
      val h = graft.query.IndexHandles(spark, updatedDir)
      assert(h.tombMap.nonEmpty && !h.tombOverflow)
      spark.conf.set("graft.maxLocalWandPostings", "0")
      try assertOracleAnswer(q)
      finally spark.conf.unset("graft.maxLocalWandPostings")
    }
  }

  test("idempotence: same snapshot again → no change (S9 save-if-changed)") {
    updatedDir
    val report2 = Incremental.update(spark, df(v2), updatedDir, conf)
    assert(!report2.changed)
  }

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaJson(dir: String): String =
    new String(DeltaLog.readSmallBytes(hfs(dir),
      new org.apache.hadoop.fs.Path(s"$dir/meta.json")), StandardCharsets.UTF_8)

  private def restoreMeta(dir: String, json: String): Unit = {
    DeltaLog.writeAtomicString(hfs(dir), s"$dir/meta.json", json)
    graft.query.IndexHandles.invalidate(dir)
  }

  /** (term, df) rows of the dictionary view, sorted — duplicates show. */
  private def termDfs(dir: String): Seq[(String, Long)] =
    DeltaLog.snapshot(spark, dir).terms.select($"term", $"df")
      .as[(String, Long)].collect().toSeq.sorted

  test("recover() rolls a crash-after-commit-marker forward: meta rebuilt " +
      "from the views, retry is a no-change no-op (no df applied twice)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_crash_fwd_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val staleMeta = metaJson(dir)
    val report = Incremental.update(spark, df(v2), dir, conf)
    assert(report.changed && !report.compacted)
    val seq = DeltaLog.listSeqs(spark, dir).last
    val good = IndexBuilder.readMeta(spark, dir)
    val expectedTerms = termDfs(dir)
    val expectedStats = DeltaLog.snapshot(spark, dir).stats
    // crash state: the marker committed, meta still the pre-update version
    restoreMeta(dir, staleMeta)

    Incremental.recover(spark, dir)

    val meta = IndexBuilder.readMeta(spark, dir)
    assert(meta("deltaSeq").toInt == seq)
    Seq("docCount", "totalTokens", "termCount", "postingCount")
      .foreach(k => assert(meta(k) == good(k), k))
    assert(meta("termCount").toLong == expectedTerms.size)
    assert(meta("docCount").toLong == expectedStats.docCount)
    // the interrupted update's retry now sees a consistent state: nothing
    // stale → no change, no double-applied df
    assert(!Incremental.update(spark, df(v2), dir, conf).changed)
    assert(DeltaLog.listSeqs(spark, dir) == Seq(seq))
    assert(termDfs(dir) == expectedTerms)
    assert(DeltaLog.snapshot(spark, dir).stats == expectedStats)
  }

  test("an UNcommitted seq's terms/stats deltas are invisible: the retry " +
      "overwrites the seq and terms ≡ a fresh rebuild") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_crash_back_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val before = termDfs(dir)
    val statsBefore = DeltaLog.snapshot(spark, dir).stats
    val staleMeta = metaJson(dir)
    assert(!Incremental.update(spark, df(v2), dir, conf).compacted)
    val seq = DeltaLog.listSeqs(spark, dir).last
    // crash state: every delta table written (df and stats changes
    // included), no tombstone table, no marker, meta not refreshed
    val f = hfs(dir)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"${DeltaLog.seqPath(dir, seq)}/terms")))
    f.delete(new org.apache.hadoop.fs.Path(
      s"${DeltaLog.seqPath(dir, seq)}/_committed"), false)
    f.delete(new org.apache.hadoop.fs.Path(
      DeltaLog.removedPath(dir, seq)), true)
    restoreMeta(dir, staleMeta)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    assert(termDfs(dir) == before)
    assert(DeltaLog.snapshot(spark, dir).stats == statsBefore)

    assert(Incremental.update(spark, df(v2), dir, conf).changed)
    assert(DeltaLog.listSeqs(spark, dir) == Seq(seq))
    assert(termDfs(dir) == termDfs(freshDir))
    assert(DeltaLog.snapshot(spark, dir).stats ==
      DeltaLog.snapshot(spark, freshDir).stats)
  }

  test("a non-compacting commit writes only its delta dir and meta.json: " +
      "every other file of the index stays byte-identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_commit_bytes_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val root = java.nio.file.Paths.get(dir)
    def files(seq: Int): Map[String, String] = {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filterNot(r => r == "meta.json" || r.startsWith(s"deltas/seq_$seq/"))
        .map(r => r -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(root.resolve(r)))
          .map("%02x".format(_)).mkString)
        .toMap
      finally st.close()
    }
    val seq = DeltaLog.nextSeq(spark, dir)
    val before = files(seq)
    val report = Incremental.update(spark, df(v2), dir, conf)
    assert(report.changed && !report.compacted)
    assert(DeltaLog.listSeqs(spark, dir) == Seq(seq))
    assert(files(seq) == before)
  }

  test("a fold stopped after its terms/stats base swap, before clear(): " +
      "the views ≡ a fresh rebuild, no delta counted twice") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fold_swap_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    assert(!Incremental.update(spark, df(v2), dir, conf).compacted)
    val seqs = DeltaLog.listSeqs(spark, dir)
    val preFoldMeta = metaJson(dir)
    Incremental.compact(spark, dir, conf)
    // crash state: every base rewritten and stamped, but no _compacted
    // marker and meta not refreshed — the folded deltas are still visible
    assert(hfs(dir).delete(
      new org.apache.hadoop.fs.Path(s"$dir/deltas/_compacted"), false))
    restoreMeta(dir, preFoldMeta)
    assert(DeltaLog.listSeqs(spark, dir) == seqs)
    assert(termDfs(dir) == termDfs(freshDir))
    assert(DeltaLog.snapshot(spark, dir).stats ==
      DeltaLog.snapshot(spark, freshDir).stats)
    assert(flatLive(dir) == flatLive(freshDir))
  }

  test("recover() rebuilds meta after a crash between the commit marker " +
      "and the meta refresh (detected by deltaSeq drift)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_crash_meta_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v2), dir, conf)
    val good = IndexBuilder.readMeta(spark, dir)
    // crash state: the commit landed, meta did not
    IndexBuilder.updateMeta(spark, dir,
      Map("deltaSeq" -> "0", "docCount" -> "-1"))
    Incremental.recover(spark, dir)
    val fixed = IndexBuilder.readMeta(spark, dir)
    assert(fixed("deltaSeq") == good("deltaSeq"))
    assert(fixed("docCount") == good("docCount"))
    assert(fixed("postingCount").toLong > 0)
  }

  test("recover() finishes a compaction that crashed before its meta " +
      "refresh (intent present, no visible deltas)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_crash_compact_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v2), dir, conf.copy(deltaCompactEvery = 1))
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    // crash state: groups re-encoded with intent bucketSize, meta stale
    Incremental.writeCompactingIntent(spark, dir, 999L)
    IndexBuilder.updateMeta(spark, dir,
      Map("bucketSize" -> "7", "deltaSeq" -> "0"))
    Incremental.recover(spark, dir)
    val meta = IndexBuilder.readMeta(spark, dir)
    assert(meta("bucketSize").toLong == 999L)
    assert(meta("deltaSeq").toInt ==
      DeltaLog.compactedThrough(spark, dir))
    assert(Incremental.readCompactingIntent(spark, dir).isEmpty)
  }

  test("delta seqs stay monotonic across compaction; compacted dirs are " +
      "invisible and the compaction trigger counts visible deltas only") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_monotonic_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    // update 1 compacts immediately (deltaCompactEvery = 1)
    assert(Incremental.update(spark, df(v2), dir,
      conf.copy(deltaCompactEvery = 1)).compacted)
    val through = DeltaLog.compactedThrough(spark, dir)
    assert(through >= 1)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    // update 2 (one edited doc) must take a seq ABOVE the compacted range
    // (its dirs may still exist pending grace deletion) and must NOT
    // auto-compact under a loose threshold
    val v3 = v2.map { p =>
      if (p.url == v2.head.url)
        p.copy(text = "entirely new monotonic content opengl",
          html = null, warc_ts = later(p.warc_ts))
      else p
    }
    val r3 = Incremental.update(spark, df(v3), dir,
      conf.copy(deltaCompactEvery = 5))
    assert(r3.changed && !r3.compacted)
    assert(DeltaLog.listSeqs(spark, dir) == Seq(through + 1))
    // and the new delta is actually served
    val hits = Search.searchTop(spark, dir, "monotonic", Search.Bm25, 10)
      .select($"url").as[String].collect()
    assert(hits.contains(v2.head.url))
  }
}
