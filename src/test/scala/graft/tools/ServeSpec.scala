package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.Synth
import graft.index.{Incremental, IndexBuilder, Schema}
import graft.query.Search

/** Drives the REAL serving layer over HTTP (server.rs analog contract):
  * response shapes, the docs-table traversal guard, per-request handle
  * freshness after an incremental commit, and the round-4 corpus re-list
  * on a /file miss for a streamed-in doc.
  */
class ServeSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexBuilder.BuildConf(
    partitions = 8, postingGroups = 2, queryBuckets = 8)

  private val pages: IndexedSeq[Synth.PageRow] = Synth.pages(80)

  private def pagesDf(rows: Seq[Synth.PageRow]) =
    spark.createDataset(rows.map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang))).toDF()

  private lazy val (indexDir, corpusDir, serverPort) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_serve_").toString
    val idx = s"$dir/index"
    val corpus = s"$dir/corpus"
    pagesDf(pages).write.mode("overwrite").parquet(corpus)
    IndexBuilder.build(spark, pagesDf(pages), idx, conf)
    val server = Serve.start(spark, idx, 0, Search.Bm25, Some(corpus))
    (idx, corpus, server.getAddress.getPort)
  }

  private val client = HttpClient.newHttpClient()

  /** One bounded retry on CONNECTION-level failures only: a keep-alive
    * connection the server idled out between our reuse decision and the
    * write surfaces as IOException — the JDK HttpClient auto-retries that
    * race for idempotent GETs but never for POSTs, so under full-suite
    * load the hammer loop can see a spurious "header parser received no
    * bytes". A single fresh-connection retry is standard client behavior,
    * not a weakened assertion — HTTP status codes are NEVER retried.
    */
  private def send(req: HttpRequest): HttpResponse[String] =
    try client.send(req, HttpResponse.BodyHandlers.ofString())
    catch {
      case _: java.io.IOException =>
        client.send(req, HttpResponse.BodyHandlers.ofString())
    }

  private def get(path: String): HttpResponse[String] =
    send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$serverPort$path")).GET().build())

  private def post(path: String, body: String): HttpResponse[String] =
    send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$serverPort$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  test("POST /api/search returns the reference serde shape, identical to " +
      "searchTop") {
    val r = post("/api/search", "texture array shader")
    assert(r.statusCode() == 200)
    // serde shape of Vec<(PathBuf, f32)>: [["url", score], ...]
    val urls = """\["([^"]+)",""".r
      .findAllMatchIn(r.body()).map(_.group(1)).toVector
    assert(urls.nonEmpty)
    val want = Search
      .searchTop(spark, indexDir, "texture array shader", Search.Bm25, 10)
      .select($"url").as[String].collect().toVector
    assert(urls == want)
  }

  test("GET /api/stats mirrors server.rs:112-122") {
    val r = get("/api/stats")
    assert(r.statusCode() == 200)
    val meta = IndexBuilder.readMeta(spark, indexDir)
    assert(r.body() ==
      s"""{"doc_count":${meta("docCount")},""" +
        s""""unique_term_count":${meta("termCount")}}""")
  }

  test("GET /file serves indexed urls only (traversal guard analog)") {
    val textDoc = pages.find(_.html == null).get
    val enc = java.net.URLEncoder.encode(textDoc.url, "UTF-8")
    val hit = get(s"/file?path=$enc")
    assert(hit.statusCode() == 200)
    assert(hit.body() == textDoc.text)
    assert(get("/file?path=https%3A%2F%2Fevil%2Fetc%2Fpasswd")
      .statusCode() == 404)
    assert(get("/file").statusCode() == 400)
  }

  test("GET / serves the embedded page") {
    val r = get("/")
    assert(r.statusCode() == 200)
    assert(r.body().contains("graft search"))
    assert(get("/nope").statusCode() == 404)
  }

  test("a repeated cached search answers well under the 40 ms delayed-ACK " +
      "floor (TCP_NODELAY, no per-request result frame)") {
    val q = "texture array shader"
    (0 until 5).foreach(_ => assert(post("/api/search", q).statusCode() == 200))
    val ms = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      val r = post("/api/search", q)
      val dt = (System.nanoTime() - t0) / 1e6
      assert(r.statusCode() == 200)
      dt
    }
    // the fastest of 20: robust to a noisy host, while a Nagle/delayed-ACK
    // stall puts every request at ≥ 40 ms
    assert(ms.min < 25.0, f"fastest of 20: ${ms.min}%.1f ms")
  }

  test("4 concurrent clients get the same answers as sequential calls") {
    val queries = Seq("texture array shader", "opengl", "network",
      "caching pointers", "missingkeywordthatdoesnotexist", "42 . data")
    val want = queries.map(q => q -> post("/api/search", q).body()).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] =
            (0 until 5).flatMap { i =>
              queries.indices.map { j =>
                val q = queries((j + w + i) % queries.size)
                val r = post("/api/search", q)
                if (r.statusCode() == 200 && r.body() == want(q)) ""
                else s"worker $w \"$q\": ${r.statusCode()} ${r.body()}"
              }
            }.filter(_.nonEmpty)
        })
      }
      val bad = futures.flatMap(_.get(120,
        java.util.concurrent.TimeUnit.SECONDS))
      assert(bad.isEmpty, s"${bad.size} differed: ${bad.headOption}")
    } finally pool.shutdown()
  }

  test("no request ever fails while commits land: search/stats hammered " +
      "concurrently with an incremental commit + compaction (atomic " +
      "meta/marker writes + salted handle swaps under real races)") {
    serverPort // force fixture
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val codes = new java.util.concurrent.atomic.AtomicLong(0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    (0 until 4).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          while (!stop.get()) {
            try {
              val r =
                if (w % 2 == 0) post("/api/search", "texture array shader")
                else get("/api/stats")
              codes.incrementAndGet()
              if (r.statusCode() != 200)
                failures.add(s"worker $w: ${r.statusCode()} ${r.body()}")
            } catch {
              case e: Exception => failures.add(s"worker $w: $e")
            }
          }
        }
      })
    }
    try {
      // two commits + a forced compaction while requests are in flight
      (0 until 2).foreach { round =>
        val p = Synth.page(6000L + round).copy(
          text = s"racing commit document $round texture",
          html = null,
          warc_ts = new Timestamp(
            pages.map(_.warc_ts.getTime).max + (round + 3) * 7200000L))
        val r = Incremental.update(spark, pagesDf(IndexedSeq(p)), indexDir,
          conf, purgeVanished = false)
        assert(r.changed)
      }
      Incremental.compact(spark, indexDir, conf)
    } finally {
      stop.set(true)
      pool.shutdown()
      pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    assert(codes.get() > 10, s"only ${codes.get()} requests completed")
    assert(failures.isEmpty, s"${failures.size} failed: ${failures.peek()}")
    // and the post-race state serves both racing docs
    val hits = post("/api/search", "racing").body()
    assert(hits.contains("6000") && hits.contains("6001"))
  }

  test("per-request freshness: an incremental commit and a corpus append " +
      "are visible without restart (stats + search + /file re-list)") {
    val before = get("/api/stats").body()
    val newPage = Synth.page(5000L).copy(
      text = "freshserve sentinel document texture",
      html = null,
      warc_ts = new Timestamp(pages.map(_.warc_ts.getTime).max + 7200000L))
    // stream-shaped upsert: index first, then the corpus dir grows (the
    // /file fetch must re-list the corpus frame it cached at startup)
    val report = Incremental.update(spark, pagesDf(IndexedSeq(newPage)),
      indexDir, conf, purgeVanished = false)
    assert(report.changed && report.added == 1)
    pagesDf(IndexedSeq(newPage)).write.mode("append").parquet(corpusDir)

    val after = get("/api/stats").body()
    assert(after != before) // doc_count bumped via per-request handle
    // engine-level first: localizes a failure to Search vs the HTTP layer
    val direct = Search
      .searchTop(spark, indexDir, "freshserve", Search.Bm25, 10)
      .select($"url").as[String].collect().toVector
    assert(direct.contains(newPage.url), s"engine direct: $direct")
    val hits = post("/api/search", "freshserve").body()
    assert(hits.contains(newPage.url))
    val enc = java.net.URLEncoder.encode(newPage.url, "UTF-8")
    val r = get(s"/file?path=$enc")
    assert(r.statusCode() == 200)
    assert(r.body() == newPage.text)
  }
}
