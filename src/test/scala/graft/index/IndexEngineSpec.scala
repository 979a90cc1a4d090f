package graft.index

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synth
import graft.oracle.RefModel
import graft.query.{IndexHandles, Search, Wand}
import graft.text.Extract

/** End-to-end rank-identity suite (the `sbt -batch test` gate from
  * BASELINE.json.input_hint): distributed build + both query paths vs the
  * in-memory oracle, plus resumability and determinism checks.
  */
class IndexEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 400
  private lazy val indexDir =
    java.nio.file.Files.createTempDirectory("graft_spec_idx_").toString

  private lazy val oracle: RefModel = {
    val m = new RefModel()
    Synth.pages(nDocs).foreach { p =>
      Extract.extractText(p.html, p.text).foreach(t =>
        m.addDocument(p.url, t, p.warc_ts.getTime))
    }
    m
  }

  private def pagesDf = spark
    .createDataset(Synth.pages(nDocs).map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang)))
    .toDF()

  override def beforeAll(): Unit = {
    super.beforeAll()
    IndexBuilder.build(spark, pagesDf, indexDir,
      IndexBuilder.BuildConf(partitions = 8, postingGroups = 2,
        queryBuckets = 8))
  }

  // the reference benchmark queries + fuzzy/duplicate/stop/number/punct/
  // empty coverage (FIXTURES.md §2)
  private val querySet = Seq(
    "opengl",
    "texture array shader",
    "missingkeywordthatdoesnotexist",
    "textur aray shaderz", // 1–2 edit typos + prefix
    "network network network", // duplicated words → max-weight once
    "the is and of", // stop-words only
    "", // empty prompt
    "42 . data", // number + punctuation + head term
    "caching pointers",
    "communicating nationally")

  private def oracleTop(q: String, m: RefModel.RankMethod, k: Int = 10) =
    oracle.searchTop(q, m, k)

  private def engineTop(q: String, m: Search.Method, useWand: Boolean,
      k: Int = 10): Vector[(String, Float)] =
    Search.searchTop(spark, indexDir, q, m, k, useWand = useWand)
      .select($"url", $"score").as[(String, Float)].collect().toVector

  for (q <- querySet) {
    test(s"rank identity [naive, bm25]: \"$q\"") {
      assert(engineTop(q, Search.Bm25, useWand = false) ==
        oracleTop(q, RefModel.Bm25))
    }
    test(s"rank identity [wand, bm25]: \"$q\"") {
      assert(engineTop(q, Search.Bm25, useWand = true) ==
        oracleTop(q, RefModel.Bm25))
    }
    test(s"rank identity [naive, tfidf]: \"$q\"") {
      assert(engineTop(q, Search.Tfidf, useWand = false) ==
        oracleTop(q, RefModel.Tfidf))
    }
    test(s"rank identity [wand, tfidf]: \"$q\"") {
      assert(engineTop(q, Search.Tfidf, useWand = true) ==
        oracleTop(q, RefModel.Tfidf))
    }
  }

  test("WAND == naive for larger k than matches (k=1000)") {
    val q = "texture array shader"
    assert(engineTop(q, Search.Bm25, useWand = true, k = 1000) ==
      engineTop(q, Search.Bm25, useWand = false, k = 1000))
  }

  test("searchTopRows ≡ searchTop(...).collect() row for row (bm25/tfidf " +
      "× WAND/naive × padToK, empty query, no-match query)") {
    val queries = Seq("texture array shader", "42 . data", "opengl", "",
      "missingkeywordthatdoesnotexist")
    for {
      q <- queries
      m <- Seq(Search.Bm25, Search.Tfidf)
      useWand <- Seq(true, false)
      padToK <- Seq(false, true)
    } {
      val k = if (padToK) 20 else 10
      val rows = Search.searchTopRows(spark, indexDir, q, m, k,
        useWand = useWand, padToK = padToK).toVector
      val frame = Search.searchTop(spark, indexDir, q, m, k,
        useWand = useWand, padToK = padToK)
      assert(frame.columns.toSeq == Seq("url", "score", "docId"))
      val collected = frame.as[(String, Float, Long)].collect().toVector
      assert(rows == collected,
        s"[$m wand=$useWand pad=$padToK] \"$q\"")
      if (q.isEmpty || q.startsWith("missing"))
        assert(rows.isEmpty == !padToK, s"[$m pad=$padToK] \"$q\"")
    }
  }

  test("WAND ≡ naive when a head term (negative BM25 idf) meets positive " +
      "terms across many blocks (block-max skip clamps negative bounds)") {
    // "common" is in 6 of 7 docs → df > (N+1)/2 → negative bm25 idf; the
    // positive terms fall in docs with and without it, and 16-posting
    // blocks give every term many blocks, so aligned groups of the head
    // cursor and a positive cursor hit the block-max re-check often
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val pages = (0 until 700).map { i =>
      val words = Seq.newBuilder[String]
      if (i % 7 != 0) words ++= Seq.fill(1 + i % 3)("common")
      if (i % 3 == 0) words ++= Seq.fill(1 + (i * 31) % 5)("alpha")
      if (i % 5 == 0) words ++= Seq.fill(1 + (i * 13) % 4)("bravo")
      words ++= (0 until (i * 17) % 11).map(j => s"pad${(i + j) % 40}x")
      Schema.Page(f"/head/doc$i%04d", ts, null,
        words.result().mkString(" "), "en")
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_headwand_").toString
    IndexBuilder.build(spark, spark.createDataset(pages).toDF(), dir,
      IndexBuilder.BuildConf(partitions = 4, postingGroups = 2,
        queryBuckets = 4, blockSize = 16))
    for {
      q <- Seq("common alpha", "common bravo", "common alpha bravo")
      k <- Seq(5, 10, 40)
    } {
      def top(useWand: Boolean) = Search.searchTopRows(spark, dir, q,
        Search.Bm25, k, useWand = useWand).toVector
      val naive = top(useWand = false)
      assert(naive.size >= 5, s"\"$q\": only ${naive.size} positive")
      assert(top(useWand = true) == naive, s"\"$q\" k=$k")
    }
  }

  test("CLI semantics (padToK): top-k of the FULL scored list — " +
      "negative-idf matches keep real scores BELOW the zeros, " +
      "never forged to 0.0 (main.rs:290 ranks every doc)") {
    // df("zebra") = 9 of 12 docs > (N+1)/2 → bm25 idf NEGATIVE: every
    // match scores negative, and the reference's full ranking puts the 3
    // non-matching docs (score 0.0) ABOVE all 9 matches
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val pages = (0 until 12).map { i =>
      val body =
        if (i < 9) s"zebra filler$i " + ("zebra " * (i % 3))
        else s"unrelated filler$i content"
      Schema.Page(f"/neg/doc$i%03d", ts, null, body, "en")
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_negcli_").toString
    IndexBuilder.build(spark,
      spark.createDataset(pages).toDF(), dir,
      IndexBuilder.BuildConf(partitions = 4, postingGroups = 2,
        queryBuckets = 4))
    val m = new RefModel()
    pages.foreach(p => Extract.extractText(p.html, p.text).foreach(t =>
      m.addDocument(p.url, t, p.warc_ts.getTime)))
    for (method <- Seq(Search.Bm25, Search.Tfidf)) {
      val refMethod =
        if (method == Search.Bm25) RefModel.Bm25 else RefModel.Tfidf
      val want = m.searchTopCli("zebra", refMethod, 12)
      val got = Search.searchTop(spark, dir, "zebra", method, 12,
        padToK = true)
        .select($"url", $"score").as[(String, Float)].collect().toVector
      assert(got == want, s"[$method] got=$got want=$want")
      if (method == Search.Bm25) {
        // the regime is real: zeros first, then genuine negatives
        assert(want.take(3).forall(_._2 == 0.0f))
        assert(want.drop(3).forall(_._2 < 0.0f),
          s"expected negative tail: $want")
      }
    }
  }

  test("distributed WAND ≡ driver-local WAND " +
      "(graft.maxLocalWandPostings=0 forces the shuffle path)") {
    val queries = Seq("texture array shader", "opengl", "42 . data",
      "textur aray shaderz")
    val before = queries.map(q => engineTop(q, Search.Bm25, useWand = true))
    spark.conf.set("graft.maxLocalWandPostings", "0")
    try {
      val after = queries.map(q => engineTop(q, Search.Bm25, useWand = true))
      assert(after == before)
    } finally spark.conf.unset("graft.maxLocalWandPostings")
  }

  test("distributed dictionary expansion ≡ driver-local expansion " +
      "(graft.maxDriverDictTerms=0 forces the big-dictionary path; " +
      "\"42 . data\" exercises the tlen-pruned exact-token branch)") {
    val queries = Seq("texture array shader", "textur aray shaderz",
      "opengl", "42 . data")
    val before = queries.map(q => engineTop(q, Search.Bm25, useWand = true))
    graft.query.IndexHandles.invalidate(indexDir)
    spark.conf.set("graft.maxDriverDictTerms", "0")
    try {
      val h = graft.query.IndexHandles(spark, indexDir)
      assert(h.driverDict.isEmpty)
      val after = queries.map(q => engineTop(q, Search.Bm25, useWand = true))
      assert(after == before)
    } finally {
      spark.conf.unset("graft.maxDriverDictTerms")
      graft.query.IndexHandles.invalidate(indexDir)
    }
  }

  test("engine stats match oracle (docCount, totalTokens, dictionary)") {
    val stats = Search.loadStats(spark, indexDir)
    assert(stats.docCount == oracle.docs.size.toLong)
    assert(stats.totalTokens == oracle.totalTokens)
    val termCount =
      DeltaLog.snapshot(spark, indexDir).terms.count()
    assert(termCount == oracle.gtf.size.toLong)
  }

  test("df column equals oracle gtf for every term") {
    val dfMap = DeltaLog.snapshot(spark, indexDir).terms
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(dfMap.size == oracle.gtf.size)
    oracle.gtf.foreach { case (term, df) =>
      assert(dfMap(term) == df, s"term=$term")
    }
  }

  test("docIds are the global url sort rank (deterministic)") {
    val docs = spark.read.parquet(IndexBuilder.docsPath(indexDir))
      .select($"docId", $"url").as[(Long, String)].collect().sortBy(_._1)
    val urls = docs.map(_._2)
    assert(urls.sameElements(urls.sorted))
    assert(docs.map(_._1).sameElements(docs.indices.map(_.toLong)))
  }

  test("build resumes: deleting one group's marker re-runs only that group " +
      "and reproduces identical postings") {
    val before = spark.read
      .parquet(IndexBuilder.postingsPath(indexDir) + "/group=*")
      .as[Schema.Posting].collect().sortBy(p => (p.termId, p.docId)).toVector

    // simulate a failed group: drop marker + output of group 1
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$indexDir/_lineage/build0/postings__1.json"), false)
    fs.delete(new Path(s"${IndexBuilder.postingsPath(indexDir)}/group=1"),
      true)

    IndexBuilder.build(spark, pagesDf, indexDir,
      IndexBuilder.BuildConf(partitions = 8, postingGroups = 2,
        queryBuckets = 8))

    val after = spark.read
      .parquet(IndexBuilder.postingsPath(indexDir) + "/group=*")
      .as[Schema.Posting].collect().sortBy(p => (p.termId, p.docId)).toVector
    assert(after == before)
  }

  test("lineage records cover all stages and groups") {
    val cp = new Checkpoint(spark, indexDir, "build0")
    val recs = cp.readAll()
    val stages = recs.map(r => (r.stage, r.group)).toSet
    assert(stages.contains(("ft", -1)))
    assert(stages.contains(("docs", -1)))
    assert(stages.contains(("postings", 0)) && stages.contains(("postings", 1)))
    assert(stages.contains(("blocks", 0)) && stages.contains(("blocks", 1)))
    assert(recs.forall(_.status == "done"))
  }

  test("posting blocks decode back to exactly the postings table") {
    val fromBlocks = spark.read
      .parquet(IndexBuilder.blocksPath(indexDir) + "/group=*")
      .as[Schema.TermBlock]
      .flatMap { b =>
        val d = Blocks.decode(b)
        (0 until b.n).iterator.map(i =>
          Schema.Posting(b.termId, d.docIds(i), d.tfs(i), d.docLens(i)))
      }
      .collect().sortBy(p => (p.termId, p.docId)).toVector
    val fromPostings = spark.read
      .parquet(IndexBuilder.postingsPath(indexDir) + "/group=*")
      .as[Schema.Posting]
      .collect().sortBy(p => (p.termId, p.docId)).toVector
    assert(fromBlocks == fromPostings)
  }

  /** `body`'s result and the Spark jobs it ran, counted by a listener on
    * the job group of this thread (threads `body` starts inherit it).
    * Listener events arrive asynchronously but in order, so once a marker
    * job run after `body` is seen, every job of `body` has been counted.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) jobs.incrementAndGet()
            else if (g == s"$group-marker") marked.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marked.await(60, TimeUnit.SECONDS), "marker job never seen")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rowsOf(q: String, useWand: Boolean) =
    Search.searchTopRows(spark, indexDir, q, Search.Bm25, 10,
      useWand = useWand).toVector

  test("a fitting index fills its block and url caches whole: after one " +
      "search, a first-seen query runs 0 Spark jobs and ≡ the naive " +
      "scorer") {
    IndexHandles.invalidate(indexDir)
    val h = IndexHandles(spark, indexDir)
    val (first, second) = ("opengl", "communicating nationally")
    def termsOf(q: String) =
      Search.plan(spark, h, q, Search.Bm25, graft.score.Scoring.Params())
        .terms.map(_.termId).toSet
    // per term and per id, the second query would miss on every term and
    // every top-k doc: only a whole-index fill can serve it without a job
    assert(termsOf(first).nonEmpty && termsOf(second).nonEmpty)
    assert(termsOf(first).intersect(termsOf(second)).isEmpty)
    val firstRows = rowsOf(first, useWand = true)
    val (rows, jobs) = jobsOf(rowsOf(second, useWand = true))
    assert(rows.nonEmpty &&
      rows.map(_._3).toSet.intersect(firstRows.map(_._3).toSet).isEmpty)
    assert(jobs == 0, s"first-seen query ran $jobs Spark jobs")
    assert(rows == rowsOf(second, useWand = false))
    IndexHandles.invalidate(indexDir)
  }

  test("above the block-cache cap the per-term fetch still runs and " +
      "answers are unchanged") {
    IndexHandles.invalidate(indexDir)
    val filled = querySet.map(rowsOf(_, useWand = true))
    spark.conf.set("graft.driverBlockCachePostings", "1")
    IndexHandles.invalidate(indexDir)
    try {
      val h = IndexHandles(spark, indexDir)
      assert(h.meta("postingCount").toLong > 1L)
      assert(querySet.map(rowsOf(_, useWand = true)) == filled)
      val ids = h.driverDict.get.map(_.termId).toSeq
      // every insert evicts past a 1-posting cap: each lookup fetches
      val (blocks, jobs) = jobsOf(h.candidateBlocks(ids.take(3)))
      assert(jobs == 1 && blocks.nonEmpty)
      assert(blocks.map(_._2.termId).toSet == ids.take(3).toSet)
    } finally {
      spark.conf.unset("graft.driverBlockCachePostings")
      IndexHandles.invalidate(indexDir)
    }
  }

  test("concurrent first misses on a fresh handle run exactly one fill " +
      "job per cache") {
    IndexHandles.invalidate(indexDir)
    val h = IndexHandles(spark, indexDir)
    val ids = h.driverDict.get.map(_.termId).toSeq
    def together[T](calls: Seq[() => T]): Seq[T] = {
      val start = new CountDownLatch(1)
      val out = new java.util.concurrent.ConcurrentHashMap[
        Int, Either[Throwable, T]]()
      val threads = calls.zipWithIndex.map { case (f, i) =>
        new Thread(() => {
          start.await()
          out.put(i, try Right(f()) catch { case t: Throwable => Left(t) })
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      calls.indices.map(i => out.get(i).fold(t => throw t, identity))
    }
    val termSets = Seq(ids.take(2), ids.slice(5, 9), ids.slice(40, 41),
      ids.slice(70, 76))
    val (blocks, blockJobs) =
      jobsOf(together(termSets.map(t => () => h.candidateBlocks(t))))
    assert(blockJobs == 1, s"$blockJobs block fill jobs")
    termSets.zip(blocks).foreach { case (t, bs) =>
      val key = (b: (Int, Schema.TermBlock)) =>
        (b._1, b._2.termId, b._2.minDocId)
      assert(bs.map(key).toSet ==
        h.layeredBlocks(Some(t)).collect().map(key).toSet)
    }
    val byId = spark.read.parquet(IndexBuilder.docsPath(indexDir))
      .select($"docId", $"url").as[(Long, String)].collect().toMap
    val docSets = Seq(Seq(1L, 2L), Seq(10L), Seq(100L, 200L, 300L),
      Seq(byId.keys.max, 0L, -5L))
    val (urls, urlJobs) =
      jobsOf(together(docSets.map(d => () => h.urlsFor(d))))
    assert(urlJobs == 1, s"$urlJobs url fill jobs")
    docSets.zip(urls).foreach { case (d, m) =>
      assert(m == d.flatMap(id => byId.get(id).map(id -> _)).toMap)
    }
    IndexHandles.invalidate(indexDir)
  }

  test("after an incremental update the new handle's fill holds the delta " +
      "layers, and replaced docs do not surface") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def page(i: Int, body: String, t: java.sql.Timestamp = ts) =
      Schema.Page(f"/fill/doc$i%03d", t, null, body, "en")
    val v1 = (0 until 60).map(i =>
      page(i, if (i % 10 == 0) s"oldword filler$i shared" else
        s"steady filler$i shared"))
    val later = new java.sql.Timestamp(ts.getTime + 3600 * 1000L)
    val v2 = v1.map(p =>
      if (p.url.takeRight(3).toInt % 10 == 0)
        p.copy(text = p.text.replace("oldword", "newword"), warc_ts = later)
      else p) ++ (60 until 66).map(i => page(i, s"newword extra$i shared"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fill_delta_").toString
    // 6 of 60 docs replaced: under the 20% tombstone share that compacts
    val conf = IndexBuilder.BuildConf(partitions = 4, postingGroups = 2,
      queryBuckets = 4)
    IndexBuilder.build(spark, spark.createDataset(v1).toDF(), dir, conf)
    def rows(q: String, useWand: Boolean) = Search.searchTopRows(spark, dir,
      q, Search.Bm25, 100, useWand = useWand).toVector
    assert(rows("oldword", useWand = true).size == 6) // fills v1's handle
    assert(Incremental.update(spark, spark.createDataset(v2).toDF(), dir,
      conf).changed)
    val h = IndexHandles(spark, dir)
    assert(h.snapshot.seqs.nonEmpty && h.tombMap.nonEmpty)
    assert(rows("extra", useWand = true).nonEmpty) // fills the new handle
    val (fresh, jobs) = jobsOf(rows("newword", useWand = true))
    assert(jobs == 0, s"first-seen query ran $jobs Spark jobs")
    assert(fresh == rows("newword", useWand = false))
    val newword = Search.plan(spark, h, "newword", Search.Bm25,
      graft.score.Scoring.Params()).terms.map(_.termId)
    assert(h.candidateBlocks(newword).exists(_._1 > 0),
      "no delta layer in the filled cache")
    assert(fresh.map(_._1).toSet ==
      (v2.filter(_.text.contains("newword")).map(_.url).toSet))
    assert(rows("oldword", useWand = true).isEmpty)
    assert(rows("oldword", useWand = false).isEmpty)
    // a cap equal to the LIVE postings: the fill would also hold the dead
    // postings of the replaced docs, so the handle fetches per term
    spark.conf.set("graft.driverBlockCachePostings", h.meta("postingCount"))
    IndexHandles.invalidate(dir)
    try {
      assert(rows("extra", useWand = true).nonEmpty)
      val (perTerm, perTermJobs) = jobsOf(rows("newword", useWand = true))
      assert(perTermJobs > 0 && perTerm == fresh)
    } finally {
      spark.conf.unset("graft.driverBlockCachePostings")
      IndexHandles.invalidate(dir)
    }
    // the per-id url lookup over the same snapshot, on a handle whose url
    // cache is below the index: live ids resolve, replaced and unknown
    // ids do not, and only a lookup with a miss runs a job
    val live = h.urlsFor(h.docs.select($"docId").as[Long].collect().toSeq)
    val dead = spark.read.parquet(IndexBuilder.docsPath(dir))
      .select($"docId").as[Long].collect().toSet -- live.keySet
    val small = IndexHandles.uncached(spark, dir, urlCacheCap = 2)
    try {
      val ids = live.keys.toSeq.sorted
      Seq(ids.take(3), ids.slice(3, 4), ids.takeRight(2) ++ dead :+ -1L,
          ids.slice(3, 4)).zip(Seq(true, true, true, false))
        .foreach { case (asked, misses) =>
          val (got, jobs) = jobsOf(small.urlsFor(asked))
          assert(got == asked.flatMap(id => live.get(id).map(id -> _)).toMap)
          assert((jobs > 0) == misses, s"$jobs jobs for $asked")
        }
    } finally small.release()
    IndexHandles.invalidate(dir)
  }
}
