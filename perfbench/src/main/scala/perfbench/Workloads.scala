package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.corpus.Synth
import graft.index.{IndexBuilder, Incremental}
import graft.oracle.RefModel
import graft.query.Search
import graft.tools.Serve

/** What the program answered for one attempted operation. */
sealed trait Output
final case class Answer(query: String, got: Vector[(String, Float)]) extends Output
final case class Counts(got: Map[String, Long]) extends Output
final case class Error(message: String) extends Output

/** One attempted operation: its kind, its latency, the index version it ran
  * against, and its output. Checked against the oracle after the timed
  * window.
  */
final case class Attempt(kind: String, ms: Double, version: Int, out: Output) {
  var failure: Option[String] = None
}

final case class Ctx(
    spark: SparkSession, trace: Trace, work: String, seed: Long, cores: Int)

/** A workload: a set-up, then whole rounds of the same operations until the
  * run's time is up (the timed window), then the oracle checks.
  */
abstract class Workload(val ctx: Ctx) {
  import Workload._
  protected def spark: SparkSession = ctx.spark
  def trace: Trace = ctx.trace

  /** The kind of the workload's unit operation (`op_p50_ms`, `ops_per_s`). */
  def unitKinds: Set[String]
  def setup(): Unit
  def round(r: Int): Unit
  /** The oracle's verdict on every attempt; fills `Attempt.failure`. */
  def verify(): Unit
  /** Index directory whose size `index_bytes_per_doc` reports. */
  def indexDir: String
  /** Corpus whose page sample the traced run feeds to `graft.text`. */
  def sample: Seq[Synth.PageRow]
  def close(): Unit = ()

  val attempts = new ConcurrentLinkedQueue[Attempt]()
  /** The set-up build's report; `buildIndex` sets it. */
  var built: graft.index.Schema.BuildMetrics = _

  /** Runs whole rounds until `seconds` have passed; returns the count. */
  def run(seconds: Int): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) { round(r); r += 1 }
    r
  }

  /** Set-up results the oracle rejected (not operations of the window). */
  val setupFailures = new ConcurrentLinkedQueue[String]()

  /** Writes `rows` as the corpus table and builds the index over it. */
  protected def buildIndex(rows: Seq[Synth.PageRow], dir: String): Unit = {
    val table = s"${ctx.work}/pages"
    Gen.writeTable(spark, rows, table, ctx.cores)
    built = trace.span("build")(IndexBuilder.build(
      spark, spark.read.parquet(table), dir, Conf))
  }

  /** The set-up build's counts must equal the oracle's. */
  protected def checkBuild(oracle: RefModel): Unit = {
    val want = oracleCounts(oracle)
    val got = Map("docCount" -> built.docCount, "termCount" -> built.termCount,
      "totalTokens" -> built.totalTokens, "postingCount" -> built.postingCount)
    if (got != want) setupFailures.add(s"build counts $got, oracle $want")
  }

  protected def attempt[A](kind: String, version: Int)(body: => A)(
      out: A => Output): Attempt = {
    val t0 = System.nanoTime()
    val o =
      try out(body)
      catch { case NonFatal(e) => Error(String.valueOf(e)) }
    val a = Attempt(kind, (System.nanoTime() - t0) / 1e6, version, o)
    attempts.add(a)
    a
  }

  protected def search(
      s: Searcher, kind: String, version: Int, q: String): Attempt =
    attempt(kind, version)(s.search(q, kind))(Answer(q, _))

  /** Checks every search attempt against `oracle(version)`; the oracle's
    * answers are computed on `ctx.cores` threads.
    */
  protected def checkAnswers(
      of: Seq[Attempt], oracle: RefModel): Unit = {
    val queries = of.collect { case a @ Attempt(_, _, _, Answer(q, _)) => q }
      .distinct
    val pool = Executors.newFixedThreadPool(ctx.cores)
    try {
      val want = queries.map(q => q -> pool.submit(() =>
        oracle.searchTop(q, RefModel.Bm25, Searcher.K))).toMap
      of.foreach { a =>
        a.out match {
          case Answer(q, got) => a.failure = Check.topK(got, want(q).get())
          case Error(m) => a.failure = Some(m)
          case Counts(_) =>
        }
      }
    } finally pool.shutdown()
  }

  protected def oracleOf(rows: Seq[Synth.PageRow]): RefModel = {
    val o = new RefModel()
    rows.foreach(p => upsert(o, p))
    o
  }
}

object Workload {
  /** Fixed so the block layout, and with it the WAND fault probe, does not
    * depend on the host's core count.
    */
  val Conf = IndexBuilder.BuildConf(
    partitions = 4, postingGroups = 4, queryBuckets = 8,
    assumeUniqueUrls = true,
    // every second commit folds the deltas (the program's own policy, at a
    // threshold a run of two commits reaches)
    deltaCompactEvery = 2)

  def micros(p: Synth.PageRow): Long = p.warc_ts.getTime * 1000L

  /** `Incremental`'s upsert rule, applied to the oracle. */
  def upsert(o: RefModel, p: Synth.PageRow): Unit =
    if (o.requiresReindexing(p.url, micros(p)))
      o.addDocument(p.url, Gen.content(p), micros(p))

  def oracleCounts(o: RefModel): Map[String, Long] = Map(
    "docCount" -> o.docs.size.toLong,
    "termCount" -> o.gtf.size.toLong,
    "totalTokens" -> o.totalTokens,
    "postingCount" -> o.docs.valuesIterator.map(_.ft.size.toLong).sum)
}

/** An index served with `Serve.start`; one closed-loop client POSTs
  * `/api/search`. `Serve` answers one request at a time, so more clients
  * would only queue, and every latency would then mirror the mix's most
  * expensive searches. Each round is 40 searches in seeded order: 29 Zipf
  * draws from 10 repeated queries, 10 first-seen queries and the WAND fault
  * probe. The corpus is fixed (seed 0) so the fault probe fails the same way
  * in every run; the queries come from the seed.
  */
final class ServeWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._
  val Pages = 4000
  val Hot = 10
  val HotDraws = 29
  val FirstSeen = 10
  private val rows = Gen.pages(Pages, 0L)
  private val dir = s"${ctx.work}/index"
  private var server: com.sun.net.httpserver.HttpServer = _
  private var searcher: Searcher = _

  private val hot: IndexedSeq[String] = {
    val rng = new Synth.Rng(ctx.seed * 7 + 2)
    Queries.headOnly(rng) +: IndexedSeq.fill(Hot - 1)(Queries.repeated(rng))
  }
  // text pages whose id tokens the first-seen queries use, in seeded order
  private val fresh: IndexedSeq[Long] = {
    val rng = new Synth.Rng(ctx.seed * 7 + 3)
    val ids = (0L until Pages).filter(_ % 3 != 0).toArray
    shuffle(rng, ids)
    ids.toIndexedSeq
  }
  private val harmonic = (1 to Hot).map(1.0 / _).sum
  /** Unrecorded rounds before timing, so JIT and caches settle. */
  private val WarmRounds = 1

  def unitKinds: Set[String] = Set("hot", "cold")
  def indexDir: String = dir
  def sample: Seq[Synth.PageRow] = rows

  def setup(): Unit = {
    buildIndex(rows, dir)
    server = Serve.start(spark, dir, 0, Search.Bm25, None)
    searcher = new Searcher(spark, dir, server.getAddress.getPort, trace)
    (hot :+ Queries.FaultProbe).foreach(searcher.http)
    (0 until WarmRounds).foreach(r => plan(r).foreach(op => searcher.http(op._2)))
  }

  private def shuffle[A](rng: Synth.Rng, xs: Array[A]): Unit = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }

  /** The searches of round `r`, in order, with their kinds. */
  def plan(r: Int): IndexedSeq[(String, String)] = {
    val rng = new Synth.Rng(ctx.seed * 1000003L + r)
    val zipf = IndexedSeq.fill(HotDraws) {
      val u = (rng.nextLong() >>> 11) * (1.0 / (1L << 53)) * harmonic
      var acc = 0.0
      var i = 0
      while (i < Hot - 1 && { acc += 1.0 / (i + 1); acc < u }) i += 1
      ("hot", hot(i))
    }
    val cold = (0 until FirstSeen).map { j =>
      val page = fresh((r * FirstSeen + j) % fresh.length)
      ("cold", Queries.firstSeen(rng, page))
    }
    val ops = (zipf ++ cold :+ (("hot", Queries.FaultProbe))).toArray
    shuffle(rng, ops)
    ops.toIndexedSeq
  }

  def round(r: Int): Unit =
    plan(WarmRounds + r).foreach { case (kind, q) =>
      search(searcher, kind, 0, q)
    }

  def verify(): Unit = {
    val o = oracleOf(rows)
    val all = attempts.asScala.toSeq
    checkBuild(o)
    checkAnswers(all, o)
  }

  override def close(): Unit = if (server != null) server.stop(0)
}

/** The same kind of index as `serve`, served, then commits of upsert
  * micro-batches through `Incremental.update(…, purgeVanished = false)`.
  * A round is two commits, the second of which compacts. After each commit:
  * five probe queries, which miss the new index version's caches (the
  * first, `fresh`, also opens its handle), then twice more as repeated
  * queries, then `/api/stats`.
  */
final class CommitWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._
  val Pages = 4000
  val Recrawled = 60
  val Added = 40
  private val rows = Gen.pages(Pages, ctx.seed)
  private val dir = s"${ctx.work}/index"
  private var server: com.sun.net.httpserver.HttpServer = _
  private var searcher: Searcher = _
  private val probes: IndexedSeq[String] = {
    val rng = new Synth.Rng(ctx.seed * 7 + 5)
    IndexedSeq.fill(5)(Queries.repeated(rng))
  }
  /** Batches committed so far, in order. */
  val batches = new scala.collection.mutable.ArrayBuffer[Seq[Synth.PageRow]]
  /** Re-crawls so far per page. */
  private val versions = scala.collection.mutable.Map.empty[Long, Int]
  private var nextPage = Pages.toLong
  /** Per commit: wall ms and the program's report. */
  val reports = new ConcurrentLinkedQueue[(Double, Incremental.UpdateReport)]()
  /** Per commit, traced: bytes written under the index dir by table kind. */
  val written = new ConcurrentLinkedQueue[Map[String, Long]]()

  def unitKinds: Set[String] = Set("commit")
  def indexDir: String = dir
  def sample: Seq[Synth.PageRow] = rows

  def setup(): Unit = {
    buildIndex(rows, dir)
    server = Serve.start(spark, dir, 0, Search.Bm25, None)
    searcher = new Searcher(spark, dir, server.getAddress.getPort, trace)
    probes.foreach(searcher.http)
  }

  private def nextBatch(b: Int): Seq[Synth.PageRow] = {
    val rng = new Synth.Rng(ctx.seed * 1000003L + 17 * b)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < Recrawled) picked += rng.nextInt(nextPage.toInt).toLong
    val recrawls = picked.toSeq.map { i =>
      versions(i) = versions.getOrElse(i, 0) + 1
      Gen.page(i, ctx.seed, versions(i))
    }
    val added = (0 until Added).map(j => Gen.page(nextPage + j, ctx.seed))
    nextPage += Added
    recrawls ++ added
  }

  def round(r: Int): Unit = (0 until 2).foreach { c =>
    val batch = nextBatch(batches.size)
    batches += batch
    val v = batches.size
    val before =
      if (trace.enabled) Layers.files(dir) else Map.empty[String, (Long, Long)]
    val t0 = System.nanoTime()
    attempt("commit", v)(trace.span("commit")(Incremental.update(
      spark, Gen.toDf(spark, batch), dir, Conf, purgeVanished = false))) {
      rep =>
        reports.add(((System.nanoTime() - t0) / 1e6, rep))
        Counts(Map.empty)
    }
    if (trace.enabled) written.add(bytesWritten(before, Layers.files(dir)))
    probes.zipWithIndex.foreach { case (q, i) =>
      search(searcher, if (i == 0) "fresh" else "cold", v, q)
    }
    (0 until 2).foreach(_ => probes.foreach(q => search(searcher, "hot", v, q)))
    attempt("stats", v)(searcher.docCount())(n => Counts(Map("docCount" -> n)))
  }

  /** Bytes of files new or rewritten between two listings, by table kind:
    * deltas, terms (terms and stats), base (postings, blocks, docs), other.
    */
  private def bytesWritten(
      before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Map[String, Long] =
    after.toSeq.filter { case (f, v) => !before.get(f).contains(v) }
      .groupBy { case (f, _) =>
        val top = f.takeWhile(_ != '/')
        if (top == "deltas") "deltas"
        else if (top.startsWith("terms") || top.startsWith("stats")) "terms"
        else if (Set("postings", "blocks", "docs")(top)) "base"
        else "other"
      }.map { case (k, fs) => k -> fs.map(_._2._1).sum }

  def verify(): Unit = {
    val o = oracleOf(rows)
    val all = attempts.asScala.toSeq.groupBy(_.version)
    checkBuild(o)
    (1 to batches.size).foreach { v =>
      batches(v - 1).foreach(p => upsert(o, p))
      val of = all.getOrElse(v, Nil)
      of.foreach { a =>
        a.out match {
          case Counts(got) if got.get("docCount").exists(_ != o.docs.size) =>
            a.failure = Some(s"doc_count ${got("docCount")}, oracle ${o.docs.size}")
          case _ =>
        }
      }
      checkAnswers(of, o)
    }
  }

  override def close(): Unit = if (server != null) server.stop(0)
}
