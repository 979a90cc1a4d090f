package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.query.{IndexHandles, Search}

/** Thin serving analog of the reference's embedded HTTP server
  * (`/root/reference/src/server.rs:60-136, 204-260`), on the JDK's built-in
  * `com.sun.net.httpserver` — no extra dependencies. Response shapes mirror
  * the reference:
  *
  *   - `POST /api/search` — body IS the raw query string (server.rs:62-75,
  *     not JSON); responds the serde shape of `Vec<(PathBuf, f32)>`:
  *     `[["url", rank], ...]`, positive scores only, top 10
  *     (server.rs:86-90).
  *   - `GET /api/stats` — `{"doc_count": N, "unique_term_count": M}`
  *     (server.rs:112-122).
  *   - `GET /file?path=<url>` — document fetch. The reference canonicalizes
  *     the path and refuses anything outside the indexed root
  *     (server.rs:204-231); the table-world analog of that traversal guard
  *     is: the decoded url must be a key of the index's docs table, and the
  *     body is the corpus row's stored text (404 otherwise — nothing
  *     outside the indexed corpus is reachable).
  *   - `GET /` — a minimal embedded search page (stand-in for the
  *     compile-time-embedded UI, server.rs:244-251).
  *
  * Usage: runMain graft.tools.Serve <indexDir> [port] [bm25|tfidf]
  *        [documentsParquetDirForFileFetch]
  */
object Serve {

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def respond(
      ex: HttpExchange,
      code: Int,
      body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  /** `?name=value` extraction with the reference's percent-decoding
    * (server.rs:147-189: `+` → space, `%XX` → byte).
    */
  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split('&').iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == name =>
          java.net.URLDecoder.decode(v, UTF_8)
      }
    }

  private val page: String =
    """<!doctype html><html><head><meta charset="utf-8">
      |<title>graft search</title></head><body>
      |<h3>graft search</h3>
      |<input id="q" size="60" placeholder="query"> <button id="go">search
      |</button><pre id="out"></pre>
      |<script>
      |document.getElementById('go').onclick = async () => {
      |  const r = await fetch('/api/search', {method: 'POST',
      |    body: document.getElementById('q').value});
      |  document.getElementById('out').textContent =
      |    JSON.stringify(await r.json(), null, 2);
      |};
      |</script></body></html>""".stripMargin

  def main(args: Array[String]): Unit = {
    val indexDir = args(0)
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val method = args.lift(2) match {
      case Some("tfidf") => Search.Tfidf
      case _ => Search.Bm25
    }
    val corpusDir = args.lift(3)

    val spark = SparkSearchCli.localSession("*")
    spark.sparkContext.setLogLevel("ERROR")
    start(spark, indexDir, port, method, corpusDir)
    println(s"serving index $indexDir on http://localhost:$port " +
      s"(method=${if (method == Search.Bm25) "bm25" else "tfidf"})")
    // keep the foreground thread alive; ctrl-c stops
    Thread.currentThread().join()
  }

  /** Builds and starts the server (port 0 = ephemeral, read the bound port
    * off the returned server). Extracted from main so ServeSpec can drive
    * the REAL endpoints over HTTP.
    */
  def start(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      port: Int,
      method: Search.Method,
      corpusDir: Option[String]): HttpServer = {
    import spark.implicits._
    // per-REQUEST handle resolution (one small meta read): a handle
    // captured at startup would go stale on the first incremental /
    // streaming commit — frozen stats, and plans over delta files that a
    // later compaction grace-deletes. IndexHandles.apply swaps handles on
    // meta change, so this is exactly the serving-freshness contract.
    def handle(): IndexHandles = IndexHandles(spark, indexDir)
    handle() // warm meta/terms/docs caches before accepting requests
    // the corpus frame is built ONCE for the hot path, not per /file
    // request (per-request spark.read.parquet pays file listing + footer
    // reads). Its file listing is frozen at build time, though — docs
    // appended to corpusDir after startup are invisible to the cached
    // frame — so a MISS for a url the index knows refreshes the frame
    // (one re-listing) and retries: streamed-in docs become fetchable at
    // the cost of one rebuild per corpus change, never per request.
    // Accepts either the pages shape (url, text) or the driver's documents
    // shape (doc_id, text), adapted with the same url mapping
    // Corpus.documentsAsPages uses.
    def loadCorpus(d: String) = {
      val df = spark.read.parquet(d)
      if (df.columns.contains("url")) df
      else df.withColumn("url",
        org.apache.spark.sql.functions.format_string(
          "doc%012d", $"doc_id"))
    }
    val corpusRef = new java.util.concurrent.atomic.AtomicReference(
      corpusDir.map(loadCorpus))
    // re-list rate limit: a url the index knows but the corpus dir never
    // receives (lagging/failed append) would otherwise pay a full parquet
    // re-listing on EVERY /file request — bound it to one per window
    val lastReload = new java.util.concurrent.atomic.AtomicLong(0L)

    // TCP_NODELAY on accepted sockets: without it a small response body
    // waits behind the client's delayed ACK (~40 ms per request). The JDK
    // reads this property ONCE, when its server config class loads (the
    // first HttpServer.create in the JVM), so it is set here, before that,
    // and only if the user has not set it.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    // requests run concurrently (IndexHandles is safe for that: TrieMap
    // caches, per-directory swap lock) instead of one at a time on the
    // dispatcher thread. Daemon threads let the JVM exit; the core time-out
    // lets idle pools of servers started and dropped wind down.
    val threads = Runtime.getRuntime.availableProcessors
    val workers = new ThreadPoolExecutor(threads, threads, 60L,
      TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-serve")
        t.setDaemon(true)
        t
      })
    workers.allowCoreThreadTimeOut(true)
    server.setExecutor(workers)

    server.createContext("/api/search", (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != "POST") respond(ex, 405, """"POST only"""")
        else {
          val query = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val rows = Search.searchTopRows(spark, indexDir, query, method, 10)
          val json = rows.map { case (u, s, _) => s"""["${esc(u)}",$s]""" }
            .mkString("[", ",", "]")
          respond(ex, 200, json)
        }
      } catch { case e: Exception => respond(ex, 500, s""""${esc(
        String.valueOf(e.getMessage))}"""") })

    server.createContext("/api/stats", (ex: HttpExchange) =>
      try {
        val hh = handle()
        val s = hh.stats
        val termCount = hh.meta("termCount")
        respond(ex, 200,
          s"""{"doc_count":${s.docCount},"unique_term_count":$termCount}""")
      } catch { case e: Exception => respond(ex, 500, s""""${esc(
        String.valueOf(e.getMessage))}"""") })

    server.createContext("/file", (ex: HttpExchange) =>
      try {
        queryParam(ex, "path") match {
          case None => respond(ex, 400, """"Missing file path query parameter"""")
          case Some(url) =>
            // traversal guard analog: only urls present in the index's docs
            // table are reachable (resolved against the CURRENT handle, so
            // streamed-in docs become fetchable)
            val known =
              handle().docs.filter($"url" === url).limit(1).count() > 0
            // corpus = parquet of pages rows (url, ..., text)
            def fetch(): Option[String] =
              corpusRef.get().filter(_ => known).flatMap { c =>
                c.filter($"url" === url).select("text")
                  .as[String].collect().headOption
              }
            val text = fetch().orElse {
              // index knows the url but the cached corpus listing doesn't
              // → the corpus dir grew since the frame was built; re-list
              // (rate-limited) and retry once
              val now = System.currentTimeMillis()
              val last = lastReload.get()
              if (known && corpusDir.isDefined && now - last > 2000L &&
                  lastReload.compareAndSet(last, now)) {
                corpusRef.set(corpusDir.map(loadCorpus))
                fetch()
              } else None
            }
            text match {
              case Some(t) => respond(ex, 200, t, "text/plain; charset=utf-8")
              case None => respond(ex, 404, """"not found"""")
            }
        }
      } catch { case e: Exception => respond(ex, 500, s""""${esc(
        String.valueOf(e.getMessage))}"""") })

    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/" ||
          ex.getRequestURI.getPath == "/index.html")
        respond(ex, 200, page, "text/html; charset=utf-8")
      else respond(ex, 404, """"not found""""))

    server.start()
    server
  }
}
