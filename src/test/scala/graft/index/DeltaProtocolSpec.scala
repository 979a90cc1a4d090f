package graft.index

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synth
import graft.oracle.RefModel
import graft.query.{IndexHandles, Search}
import graft.text.Extract

/** Round-4 delta-log protocol edges: commit visibility is the `_committed`
  * marker file (not directory existence), snapshot-parameterized reads,
  * the absolute tombstone cap, and the distributed-liveness overflow path.
  */
class DeltaProtocolSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexBuilder.BuildConf(
    partitions = 8, postingGroups = 2, queryBuckets = 8)

  private def later(ts: Timestamp): Timestamp =
    new Timestamp(ts.getTime + 3600 * 1000L)

  private val v1: IndexedSeq[Synth.PageRow] = Synth.pages(120)
  // v2: delete i%40==7 (3 docs), edit i%9==2, add 10 new
  private val v2: IndexedSeq[Synth.PageRow] = {
    val edited = v1.flatMap { p =>
      val i = p.url.split("/")(3).toLong
      if (i % 40 == 7) None
      else if (i % 9 == 2)
        Some(p.copy(
          text = s"revised protocol content $i shader texture buffer",
          html = null, warc_ts = later(p.warc_ts)))
      else Some(p)
    }
    edited ++ (120 until 130).map(i => Synth.page(i.toLong))
  }

  private def df(rows: IndexedSeq[Synth.PageRow]) =
    spark.createDataset(rows.map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang))).toDF()

  private def oracleV2: RefModel = {
    val m = new RefModel()
    v1.foreach(p => Extract.extractText(p.html, p.text).foreach(t =>
      m.addDocument(p.url, t, p.warc_ts.getTime)))
    v2.foreach { p =>
      if (m.requiresReindexing(p.url, p.warc_ts.getTime))
        Extract.extractText(p.html, p.text).foreach(t =>
          m.addDocument(p.url, t, p.warc_ts.getTime))
    }
    val visited = v2.map(_.url).toSet
    m.docs.keys.filterNot(visited).toVector.foreach(m.removeDocument)
    m
  }

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Score-grouped comparison (rank identity modulo equal-score ties —
    * docId vs url tiebreaks can permute within a tie group).
    */
  private def groups(v: Vector[(String, Float)]) =
    v.groupBy(_._2).toVector.sortBy(-_._1)
      .map { case (s, rows) => (s, rows.map(_._1).toSet) }

  test("a removed/ directory WITHOUT the _committed marker is invisible: " +
      "job-setup dirs and in-flight commits never read as committed") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_marker_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    // reconstruct the exact ADVICE scenario: Spark's FileOutputCommitter
    // has created removed/ (with _temporary) at job setup, data not yet
    // committed, crash — no _committed marker exists
    val f = hfs(dir)
    val rm = new org.apache.hadoop.fs.Path(
      DeltaLog.removedPath(dir, 1) + "/_temporary/0")
    f.mkdirs(rm)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    assert(DeltaLog.snapshot(spark, dir).tombstones.isEmpty)
    // recover() must not wedge on the unreadable half-delta
    Incremental.recover(spark, dir)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
    // the retry reuses seq 1, overwrites the orphan, and commits cleanly
    assert(DeltaLog.nextSeq(spark, dir) == 1)
    val report = Incremental.update(spark, df(v2), dir,
      conf.copy(deltaCompactEvery = 100))
    assert(report.changed)
    assert(DeltaLog.listSeqs(spark, dir) == Seq(1))
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"${DeltaLog.seqPath(dir, 1)}/_committed")))
    // and serves the oracle-correct live view
    val got = Search.searchTop(spark, dir, "revised protocol",
      Search.Bm25, 100000)
      .select($"url", $"score").as[(String, Float)].collect().toVector
    assert(groups(got) == groups(
      oracleV2.searchTop("revised protocol", RefModel.Bm25, 100000)))
  }

  test("back-compat: a pre-marker delta (removed/_SUCCESS present, no " +
      "_committed) still reads as committed — no silent data loss on " +
      "upgrade") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_oldlayout_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v2), dir, conf.copy(deltaCompactEvery = 100))
    val seqs = DeltaLog.listSeqs(spark, dir)
    assert(seqs == Seq(1))
    // strip the round-4 marker, leaving exactly the old on-disk layout
    val f = hfs(dir)
    val marker = new org.apache.hadoop.fs.Path(
      s"${DeltaLog.seqPath(dir, 1)}/_committed")
    assert(f.exists(marker))
    f.delete(marker, false)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      DeltaLog.removedPath(dir, 1) + "/_SUCCESS")))
    assert(DeltaLog.listSeqs(spark, dir) == Seq(1)) // still committed
    assert(DeltaLog.nextSeq(spark, dir) == 2) // and never overwritten
    graft.query.IndexHandles.invalidate(dir)
    val got = Search.searchTop(spark, dir, "revised protocol",
      Search.Bm25, 100000)
      .select($"url", $"score").as[(String, Float)].collect().toVector
    assert(groups(got) == groups(
      oracleV2.searchTop("revised protocol", RefModel.Bm25, 100000)))
  }

  test("a delta dir without terms/ and stats/ (written before those " +
      "tables existed) reads as no dictionary or stats change") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nodf_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v2), dir, conf.copy(deltaCompactEvery = 100))
    assert(DeltaLog.listSeqs(spark, dir) == Seq(1))
    val f = hfs(dir)
    Seq("terms", "stats").foreach(t => assert(f.delete(
      new org.apache.hadoop.fs.Path(s"${DeltaLog.seqPath(dir, 1)}/$t"), true)))
    def termDfs(frame: org.apache.spark.sql.DataFrame) =
      frame.select($"termId", $"term", $"df")
        .as[(Long, String, Long)].collect().toSeq.sorted
    assert(termDfs(DeltaLog.snapshot(spark, dir).terms) ==
      termDfs(spark.read.parquet(IndexBuilder.termsPath(dir))))
    assert(DeltaLog.snapshot(spark, dir).stats == spark.read
      .parquet(IndexBuilder.statsPath(dir)).as[Schema.Stats].head())
  }

  test("a new term is numbered above a dropped term's id: no termId " +
      "carries two names before the fold, answers ≡ oracle") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_termid_").toString
    val t0 = v1.head.warc_ts.getTime
    def page(u: String, text: String, h: Int) = Schema.Page(
      s"/termid/$u", new Timestamp(t0 + h * 3600000L), null, text, "en")
    val noFold = conf.copy(deltaCompactEvery = 100,
      tombstoneCompactFraction = 100.0)
    val m = new RefModel()
    def add(p: Schema.Page): Unit = Extract.extractText(p.html, p.text)
      .foreach(t => m.addDocument(p.url, t, p.warc_ts.getTime))
    def upsert(rows: Seq[Schema.Page]): Unit = {
      Incremental.update(spark, spark.createDataset(rows).toDF(), dir,
        noFold, purgeVanished = false)
      rows.foreach(add)
    }
    val init = Seq(page("a", "alpha beta zebra", 0),
      page("b", "alpha gamma", 0), page("c", "beta gamma", 0))
    IndexBuilder.build(spark, spark.createDataset(init).toDF(), dir, noFold)
    init.foreach(add)
    def idOf(term: String) = DeltaLog.snapshot(spark, dir).terms
      .filter($"term" === term).select($"termId").as[Long].collect().toSeq
    val maxId = spark.read.parquet(IndexBuilder.termsPath(dir))
      .agg(org.apache.spark.sql.functions.max($"termId")).as[Long].head()
    assert(idOf("ZEBRA") == Seq(maxId))
    upsert(Seq(page("a", "alpha beta", 1))) // zebra → df 0
    assert(idOf("ZEBRA").isEmpty)
    upsert(Seq(page("d", "quokka alpha", 2)))
    assert(DeltaLog.listSeqs(spark, dir) == Seq(1, 2))
    assert(idOf("QUOKKA").forall(_ > maxId) && idOf("QUOKKA").size == 1)
    // every name any layer gives a termId: one per id
    val named = spark.read.parquet(IndexBuilder.termsPath(dir))
      .select($"termId", $"term")
      .unionByName(spark.read.parquet(
        Seq(1, 2).map(s => s"${DeltaLog.seqPath(dir, s)}/terms"): _*)
        .filter($"term".isNotNull).select($"termId", $"term"))
      .as[(Long, String)].collect().groupBy(_._1)
    assert(named.values.forall(_.map(_._2).distinct.length == 1), named)
    def answers(): Unit = Seq("quokka", "zebra", "alpha", "beta gamma")
      .foreach { q =>
        val got = Search.searchTop(spark, dir, q, Search.Bm25, 100)
          .select($"url", $"score").as[(String, Float)].collect().toVector
        assert(groups(got) == groups(m.searchTop(q, RefModel.Bm25, 100)), q)
      }
    answers()
    Incremental.compact(spark, dir, noFold)
    answers()
  }

  test("snapshot-parameterized reads honor the passed seq listing, not " +
      "the current on-disk state") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snapshot_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    val baseDocs = spark.read.parquet(IndexBuilder.docsPath(dir)).count()
    val empty = DeltaLog.snapshot(spark, dir) // taken before the commit
    Incremental.update(spark, df(v2), dir,
      conf.copy(deltaCompactEvery = 100))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.seqs.nonEmpty)
    // empty snapshot → base only, even though a committed delta exists
    assert(empty.seqs.isEmpty)
    assert(empty.docs.count() == baseDocs)
    assert(empty.tombstones.isEmpty)
    assert(empty.deltaBlocks.isEmpty)
    // full snapshot → live view
    assert(snap.docs.count() ==
      IndexBuilder.readMeta(spark, dir)("docCount").toLong)
  }

  test("absolute tombstone cap triggers compaction even when the " +
      "fraction threshold is far away") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tombcap_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    // fraction 1.0 alone would never fire; cap 2 must (v1→v2 tombstones:
    // 3 deletions + 13 edits > 2)
    val report = Incremental.update(spark, df(v2), dir, conf.copy(
      deltaCompactEvery = 100,
      tombstoneCompactFraction = 1.0,
      tombstoneAbsoluteCap = 2L))
    assert(report.changed && report.compacted)
    assert(DeltaLog.listSeqs(spark, dir).isEmpty)
  }

  test("maintenance-path liveness join drops the broadcast hint past the " +
      "tombstone cap — the overflowed compaction reads its own input " +
      "without a driver collect, and compact ≡ oracle stays green") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maintoverflow_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    Incremental.update(spark, df(v2), dir, conf.copy(
      deltaCompactEvery = 100,
      tombstoneCompactFraction = 1.0,
      tombstoneAbsoluteCap = Long.MaxValue))
    assert(DeltaLog.listSeqs(spark, dir).nonEmpty)
    // size-based auto-broadcast off: at test scale the tombstone frame is
    // tiny, so any Broadcast node in the plan can only come from the HINT
    // this test gates (at 100 TB the size estimate is past the threshold
    // anyway — the hint is what would force the doomed driver collect)
    def planOf(frame: org.apache.spark.sql.DataFrame): String =
      frame.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // under the default cap the hint is present (small side, broadcast)
      assert(planOf(DeltaLog.snapshot(spark, dir).postings)
        .contains("BroadcastHashJoin"))
      spark.conf.set("graft.maxDriverTombstones", "0")
      val snap = DeltaLog.snapshot(spark, dir)
      assert(!planOf(snap.postings).contains("Broadcast"),
        "postingsView still broadcasts past the cap")
      assert(!planOf(snap.docs).contains("Broadcast"),
        "docsView still broadcasts past the cap")
      // the compaction that clears the lull must itself run overflowed
      Incremental.compact(spark, dir, conf)
      assert(DeltaLog.listSeqs(spark, dir).isEmpty)
      val got = Search.searchTop(spark, dir, "revised protocol",
        Search.Bm25, 100000)
        .select($"url", $"score").as[(String, Float)].collect().toVector
      assert(groups(got) == groups(
        oracleV2.searchTop("revised protocol", RefModel.Bm25, 100000)))
    } finally {
      spark.conf.unset("graft.maxDriverTombstones")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      IndexHandles.invalidate(dir)
    }
  }

  test("tombstone overflow: no driver collect scales with churn — the " +
      "distributed liveness path serves oracle-identical results") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tomboverflow_").toString
    IndexBuilder.build(spark, df(v1), dir, conf)
    // keep the deltas (no compaction) and force the driver-map gate shut
    Incremental.update(spark, df(v2), dir, conf.copy(
      deltaCompactEvery = 100,
      tombstoneCompactFraction = 1.0,
      tombstoneAbsoluteCap = Long.MaxValue))
    assert(DeltaLog.listSeqs(spark, dir).nonEmpty)
    spark.conf.set("graft.maxDriverTombstones", "0")
    IndexHandles.invalidate(dir)
    try {
      val h = IndexHandles(spark, dir)
      assert(h.snapshot.tombRows > 0)
      assert(h.tombOverflow)
      assert(h.tombMap.isEmpty) // the collect is skipped, not resized
      val oracle = oracleV2
      for (q <- Seq("revised protocol content", "texture array shader",
          "opengl")) {
        val wand = Search.searchTop(spark, dir, q, Search.Bm25, 100000)
          .select($"url", $"score").as[(String, Float)].collect().toVector
        val naive = Search
          .searchTop(spark, dir, q, Search.Bm25, 100000, useWand = false)
          .select($"url", $"score").as[(String, Float)].collect().toVector
        val want = oracle.searchTop(q, RefModel.Bm25, 100000)
        assert(groups(wand) == groups(want), s"wand overflow path: $q")
        assert(groups(naive) == groups(want), s"naive overflow path: $q")
      }
    } finally {
      spark.conf.unset("graft.maxDriverTombstones")
      IndexHandles.invalidate(dir)
    }
  }

  test("writeAtomicString: concurrent readers never observe an absent or " +
      "torn destination across rapid rewrites (ServeSpec 500 root cause)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_atomicwrite_").toString
    val path = s"$dir/meta.json"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaLog.writeAtomicString(fs, path, "{\"rev\":0}")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val readers = (1 to 4).map { w =>
      val t = new Thread(() => {
        val p = new org.apache.hadoop.fs.Path(path)
        while (!stop.get() && errors.size() < 5) {
          try {
            val in = fs.open(p)
            try {
              val buf = new Array[Byte](64)
              val n = in.read(buf)
              val s = new String(buf, 0, math.max(0, n),
                StandardCharsets.UTF_8)
              if (!s.startsWith("{\"rev\":"))
                errors.add(s"reader $w torn read: '$s'")
            } finally in.close()
            reads.incrementAndGet()
          } catch {
            case e: Exception => errors.add(s"reader $w: ${e.getMessage}")
          }
        }
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      var r = 1
      while (r <= 3000 && errors.isEmpty) {
        DeltaLog.writeAtomicString(fs, path, s"""{"rev":$r}""")
        r += 1
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join(10000))
    }
    assert(errors.isEmpty, s"${errors.size} failed: ${errors.peek()}")
    assert(reads.get() > 100, s"only ${reads.get()} reads completed")
  }

  test("readSmallBytes racing writeAtomicString replacements returns one " +
      "whole version every time, never truncated or over-long bytes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_smallread_").toString
    val path = s"$dir/meta.json"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two versions of very different lengths: a length taken apart from
    // the open stream would cut the long one or overrun the short one
    val long = "{\"rev\":\"" + ("L" * 4000) + "\"}"
    val short = "{\"rev\":\"s\"}"
    DeltaLog.writeAtomicString(fs, path, long)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val readers = (1 to 2).map { w =>
      val t = new Thread(() => {
        while (!stop.get() && errors.size() < 5) {
          try {
            val s = new String(DeltaLog.readSmallBytes(fs, p),
              StandardCharsets.UTF_8)
            if (s != long && s != short)
              errors.add(s"reader $w: ${s.length} chars '${s.take(20)}…'")
            reads.incrementAndGet()
          } catch {
            case e: Exception => errors.add(s"reader $w: $e")
          }
        }
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      var r = 1
      while (r <= 3000 && errors.isEmpty) {
        DeltaLog.writeAtomicString(fs, path, if (r % 2 == 0) long else short)
        r += 1
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join(10000))
    }
    assert(errors.isEmpty, s"${errors.size} failed: ${errors.peek()}")
    assert(reads.get() > 100, s"only ${reads.get()} reads completed")
  }
}
