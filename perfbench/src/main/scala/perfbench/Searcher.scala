package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession

import graft.query.{IndexHandles, Search, Wand}
import graft.score.Scoring

/** Issues BM25 top-10 searches the way a workload's users do: over HTTP,
  * against the index served on `port`.
  *
  * Traced, every search first replays the calls `Search.searchTop` makes,
  * in its order, with a span around each; it is then repeated over HTTP and
  * in-process, and the difference of those two is the HTTP layer's share.
  */
final class Searcher(
    spark: SparkSession,
    indexDir: String,
    port: Int,
    trace: Trace) {
  import spark.implicits._
  import Searcher._

  private val client = HttpClient.newHttpClient()
  private val params = Scoring.Params()
  private var hotSearches = 0

  /** One connection-level retry on a fresh connection: a keep-alive
    * connection the server closed between two requests fails as an
    * IOException. Status codes are never retried.
    */
  private def send(req: HttpRequest): String = {
    val r =
      try client.send(req, HttpResponse.BodyHandlers.ofString())
      catch {
        case _: java.io.IOException =>
          client.send(req, HttpResponse.BodyHandlers.ofString())
      }
    if (r.statusCode() != 200)
      throw new IllegalStateException(s"HTTP ${r.statusCode()}: ${r.body()}")
    r.body()
  }

  private def uri(path: String) = URI.create(s"http://localhost:$port$path")

  def http(q: String): Vector[(String, Float)] =
    parse(send(HttpRequest.newBuilder(uri("/api/search"))
      .POST(HttpRequest.BodyPublishers.ofString(q)).build()))

  /** `doc_count` of `GET /api/stats`. */
  def docCount(): Long = {
    val body = send(HttpRequest.newBuilder(uri("/api/stats")).GET().build())
    "\"doc_count\":(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"bad stats: $body"))
  }

  private def inProcess(q: String): Vector[(String, Float)] =
    Search.searchTop(spark, indexDir, q, Search.Bm25, K)
      .select("url", "score").as[(String, Float)].collect().toVector

  /** One search of the workload's `kind` (the traced run reports layers
    * per kind).
    */
  def search(q: String, kind: String): Vector[(String, Float)] =
    if (!trace.enabled) http(q)
    else {
      val qid = trace.newQueryId(kind)
      // the same replay untraced, on the same warm caches: the tracing
      // overhead (`trace.overhead_pct`); right before the traced replay on
      // every second repeated search, right after it on the others, so
      // each takes the slot after the previous search's heavier calls
      // equally often
      val untraced = kind == "hot"
      if (untraced) hotSearches += 1
      def timeUntraced(): Unit = {
        val t0 = System.nanoTime()
        replay(q, 0L, Trace.Off)
        trace.count(qid, "untraced_ms", (System.nanoTime() - t0) / 1e6)
      }
      if (untraced && hotSearches % 2 == 0) timeUntraced()
      val r = trace.span("query", qid)(replay(q, qid, trace))
      if (untraced && hotSearches % 2 == 1) timeUntraced()
      // the program's own top-k call on the same handle and plan: the
      // listener's job count under this span tells which path it took
      // (`Layers.checkPaths`), and its answer must be the replay's
      val direct = trace.span("path_check", qid)(
        Wand.topKArray(spark, r.handle, r.plan, Search.Bm25, K, params))
      if (!direct.sameElements(r.top))
        throw new IllegalStateException(
          s"replay top-k ${r.top.toSeq} differs from Wand.topKArray's " +
            s"${direct.toSeq} for ${Main.quote(q)}")
      val viaHttp = trace.span("http", qid)(http(q))
      trace.span("inproc", qid)(inProcess(q))
      if (viaHttp != r.answer)
        throw new IllegalStateException(
          s"HTTP answer $viaHttp differs from the replay's ${r.answer}")
      r.answer
    }

  /** `Search.searchTop(…, useWand = true)`, call by call, each in a span of
    * `t`.
    */
  private def replay(q: String, qid: Long, t: Trace): Replay = {
    val h = t.span("handle", qid)(IndexHandles(spark, indexDir))
    val qp = t.span("expand", qid)(Search.plan(spark, h, q, Search.Bm25, params))
    t.count(qid, "expanded_terms", qp.terms.size)
    t.count(qid, "candidate_postings", qp.terms.map(_.df).sum.toDouble)
    val ranked = qp.terms.nonEmpty && qp.avgdl != 0.0f
    val local = driverLocal(h, qp)
    if (ranked) t.count(qid, "driver_local", if (local) 1.0 else 0.0)
    val top: Array[(Long, Float)] =
      if (!ranked) Array.empty
      else if (local) {
        val blocks = t.span("block_fetch", qid)(
          h.candidateBlocks(qp.terms.map(_.termId)))
        t.count(qid, "blocks_fetched", blocks.length)
        val info = qp.terms.map(x => x.termId -> (x.weight, x.idf)).toMap
        t.span("wand", qid)(
          Wand.wandBucket(blocks.iterator, info, qp.avgdl, Search.Bm25, K,
            params, h.tombMap).toArray.sortBy(x => (-x._2, x._1)).take(K))
      } else t.span("wand", qid)(
        Wand.topKArray(spark, h, qp, Search.Bm25, K, params))
    val positive = top.filter(_._2 > 0.0f)
    val answer =
      if (positive.isEmpty) Vector.empty
      else {
        val urls = t.span("url_lookup", qid)(h.urlsFor(positive.map(_._1).toSeq))
        positive.map { case (d, s) => (urls.getOrElse(d, ""), s) }.toVector
      }
    Replay(h, qp, top, answer)
  }

  /** The gate `Wand.topKArray` applies before its driver-local path, copied
    * from it; `Layers.checkPaths` fails the traced run when the program's
    * gate no longer agrees.
    */
  private def driverLocal(h: IndexHandles, qp: Search.QueryPlan): Boolean = {
    val maxLocal = spark.conf.getOption("graft.maxLocalWandPostings")
      .map(_.toLong).getOrElse(4000000L)
    qp.terms.map(_.df).sum <= maxLocal && !h.tombOverflow
  }
}

object Searcher {
  val K = 10

  /** A replayed search: the handle and plan it used, WAND's top-k (docId,
    * score), and the answer with urls attached.
    */
  final case class Replay(
      handle: IndexHandles,
      plan: Search.QueryPlan,
      top: Array[(Long, Float)],
      answer: Vector[(String, Float)])

  private val Pair = "\\[\"((?:[^\"\\\\]|\\\\.)*)\",([^\\]]+)\\]".r

  /** The `/api/search` body: `[["url",score],...]`. */
  def parse(body: String): Vector[(String, Float)] =
    Pair.findAllMatchIn(body).map(m =>
      (m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"),
        m.group(2).toFloat)).toVector
}
