package graft.index

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synth

/** Compaction idempotence for docs ADDED (not replaced) by a delta, and
  * duplicate-url snapshots fed to [[Incremental.update]].
  *
  * The fold's restart/lost-marker safety argument requires that EVERY docId
  * a delta writes carries a tombstone at its seq — adds included. Without
  * the add-tombstones, a crashed `compact()` restart (or a lost
  * `_compacted` marker re-exposing folded deltas) reads an added doc's
  * folded layer-0 rows AND its delta rows as live, double-materializing it
  * permanently. These tests drive exactly those two windows plus the
  * duplicate-url update input `build()` already guards against.
  */
class CompactionIdempotenceSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // compaction only when explicitly requested — the scenarios stage it
  private val conf = IndexBuilder.BuildConf(
    partitions = 8, postingGroups = 2, queryBuckets = 8,
    deltaCompactEvery = 100, tombstoneCompactFraction = 100.0)

  private def df(rows: Seq[Synth.PageRow]) =
    spark.createDataset(rows.map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang))).toDF()

  private def hfs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dupPostings(dir: String): Long =
    DeltaLog.snapshot(spark, dir).postings
      .groupBy($"termId", $"docId").count().filter($"count" > 1).count()

  private def dupDocs(dir: String): Long =
    DeltaLog.snapshot(spark, dir).docs
      .groupBy($"url").count().filter($"count" > 1).count()

  /** Flattened live postings as a SORTED MULTISET — a Set comparison would
    * hide exactly the duplicates these scenarios produce.
    */
  private def flatLiveSeq(dir: String): Seq[(String, String, Int, Int)] = {
    val snap = DeltaLog.snapshot(spark, dir)
    val docs = snap.docs.select($"docId", $"url")
    val terms = snap.terms
      .select($"termId", $"term")
    snap.postings
      .join(docs, "docId").join(terms, "termId")
      .select($"url", $"term", $"tf", $"docLen")
      .as[(String, String, Int, Int)].collect().toSeq.sorted
  }

  private def termDfs(dir: String): Seq[(String, Long)] =
    DeltaLog.snapshot(spark, dir).terms.select($"term", $"df")
      .as[(String, Long)].collect().toSeq.sorted

  private val v1: IndexedSeq[Synth.PageRow] = Synth.pages(60)
  private val added: IndexedSeq[Synth.PageRow] =
    (60 until 70).map(i => Synth.page(i.toLong))

  test("lost _compacted marker after folding ADDED docs: re-exposed " +
      "deltas still read as one copy per doc (adds carry tombstones)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_addfold_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val rep = Incremental.update(spark, df(v1 ++ added), dir, conf)
    // one generated page in 60..69 extracts empty (A3) — not indexed
    assert(rep.added >= 8 && !rep.compacted)
    Incremental.compact(spark, dir, conf)
    val before = flatLiveSeq(dir)

    // lose the floor ENTIRELY (marker file AND the redundant meta copy —
    // either alone re-exposes nothing): compactedThrough falls back to 0
    // and the folded delta dirs (still on disk through the deletion
    // grace) become visible
    assert(hfs(dir).delete(new Path(s"$dir/deltas/_compacted"), false))
    IndexBuilder.updateMeta(spark, dir, Map("compactedThrough" -> "0"))
    graft.query.IndexHandles.invalidate(dir)
    assert(DeltaLog.listSeqs(spark, dir).nonEmpty,
      "scenario must actually re-expose the folded delta")
    assert(dupPostings(dir) == 0, "added docs' postings read twice")
    assert(dupDocs(dir) == 0, "added docs' doc rows read twice")
    assert(flatLiveSeq(dir) == before)
  }

  test("compact() restarted after the fold (intent present, deltas " +
      "visible): second fold does not double-materialize added docs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_refold_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v1 ++ added), dir, conf)
    Incremental.compact(spark, dir, conf)
    val before = flatLiveSeq(dir)
    val termsBefore = termDfs(dir)
    val statsBefore = DeltaLog.snapshot(spark, dir).stats

    // reconstruct "crashed between fold and clear": base already folded,
    // BOTH floor copies absent, intent durable with the fold's bucketSize
    val bucketSize = IndexBuilder.readMeta(spark, dir)("bucketSize").toLong
    assert(hfs(dir).delete(new Path(s"$dir/deltas/_compacted"), false))
    IndexBuilder.updateMeta(spark, dir, Map("compactedThrough" -> "0"))
    Incremental.writeCompactingIntent(spark, dir, bucketSize)
    graft.query.IndexHandles.invalidate(dir)
    Incremental.compact(spark, dir, conf) // the restart path

    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    assert(dupPostings(dir) == 0 && dupDocs(dir) == 0)
    assert(flatLiveSeq(dir) == before)
    // the refold wrote the same terms and stats bases: the stamp kept the
    // re-exposed deltas' df and stats changes from being added again
    assert(termDfs(dir) == termsBefore)
    assert(DeltaLog.snapshot(spark, dir).stats == statsBefore)

    // and ≡ a fresh build of the same corpus
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft_refold_fresh_").toString
    IndexBuilder.build(spark, df(v1 ++ added), freshDir, conf)
    assert(flatLiveSeq(dir) == flatLiveSeq(freshDir))
  }

  test("losing ONLY the marker file re-exposes nothing: the redundant " +
      "compactedThrough floor in meta.json stands") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_floor_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v1 ++ added), dir, conf)
    Incremental.compact(spark, dir, conf)
    val before = flatLiveSeq(dir)
    assert(hfs(dir).delete(new Path(s"$dir/deltas/_compacted"), false))
    assert(DeltaLog.listSeqs(spark, dir).isEmpty,
      "meta floor alone must keep folded deltas invisible")
    assert(flatLiveSeq(dir) == before)
  }

  test("pure-add bulk past graft.maxDriverTombstones triggers a fold: " +
      "the DERIVED liveness working set must not pin queries on the " +
      "distributed path with zero kills") {
    val key = "graft.maxDriverTombstones"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "5")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_addcap_").toString
      IndexBuilder.build(spark, df(v1), dir, conf)
      // ≥9 indexable adds, zero kills: kill trigger is silent, the
      // derived (removed + docs) footer count crosses the cap
      val rep = Incremental.update(spark, df(v1 ++ added), dir, conf)
      assert(rep.added >= 8 && rep.reindexed == 0 && rep.removed == 0)
      assert(rep.compacted, "derived-cap fold did not fire")
      assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("duplicate urls in an update() snapshot: last-write-wins dedup ≡ " +
      "winners-only update (same guard build() applies)") {
    def bump(p: Synth.PageRow, h: Int, t: String) = p.copy(
      text = t, html = null,
      warc_ts = new Timestamp(p.warc_ts.getTime + h * 3600 * 1000L))
    // winners: every 5th doc edited (+2h), plus 5 brand-new docs
    val edited = v1.map { p =>
      val i = p.url.split("/")(3).toLong
      if (i % 5 == 0) bump(p, 2, s"edited winner body $i mesh shader") else p
    }
    val winners = edited ++ added.take(5)
    // duplicates that survive the staleness filter: a +1h superseded copy
    // of each edited url, and an EXACT second copy of each new url (the
    // same-second recrawl — tie broken by content hash, rows identical)
    val losers = v1.filter(_.url.split("/")(3).toLong % 5 == 0)
      .map(p => bump(p, 1, s"superseded dup body ${p.url}"))
    val exactDups = added.take(5)

    val dupDir = java.nio.file.Files
      .createTempDirectory("graft_updup_").toString
    val winDir = java.nio.file.Files
      .createTempDirectory("graft_upwin_").toString
    IndexBuilder.build(spark, df(v1), dupDir, conf)
    IndexBuilder.build(spark, df(v1), winDir, conf)
    val repDup = Incremental.update(
      spark, df(winners ++ losers ++ exactDups), dupDir, conf)
    val repWin = Incremental.update(spark, df(winners), winDir, conf)
    assert(repDup.added == repWin.added &&
      repDup.reindexed == repWin.reindexed)
    assert(dupDocs(dupDir) == 0, "duplicate doc rows under one docId")
    assert(flatLiveSeq(dupDir) == flatLiveSeq(winDir))
  }
}
