package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.index.Checkpoint
import graft.text.{Extract, Lexer}

/** Per-layer metrics of a traced run. Every traced run reports every name
  * below; a layer its workload does not run reads 0.
  */
object Layers {

  /** (name, unit), in the order BENCHMARK.json lists them. */
  val Defs: Seq[(String, String)] = {
    val text = Seq("text.extract_us_per_doc" -> "us",
      "text.tokenize_us_per_doc" -> "us", "text.tokens_per_doc" -> "count")
    val build = Seq("build.wall_ms" -> "ms", "build.ft_ms" -> "ms",
      "build.docs_ms" -> "ms", "build.terms_base_ms" -> "ms",
      "build.postings_ms" -> "ms", "build.terms_ms" -> "ms",
      "build.stats_ms" -> "ms", "build.blocks_ms" -> "ms",
      "build.residual_ms" -> "ms", "build.postings" -> "count",
      "build.terms" -> "count", "build.skew_ratio" -> "ratio",
      "build.shuffle_write_bytes" -> "B", "build.shuffle_read_bytes" -> "B",
      "build.spill_bytes" -> "B", "build.gc_ms" -> "ms",
      "build.task_ms" -> "ms", "build.spark_jobs" -> "count")
    val query = for {
      kind <- Seq("hot", "cold")
      (n, u) <- Seq("count" -> "count", "handle_ms" -> "ms",
        "expand_ms" -> "ms", "expanded_terms" -> "count",
        "candidate_postings" -> "count", "block_fetch_ms" -> "ms",
        "blocks_fetched" -> "count", "spark_jobs" -> "count",
        "wand_ms" -> "ms", "url_lookup_ms" -> "ms", "http_ms" -> "ms",
        "residual_ms" -> "ms")
    } yield (s"query.$kind.$n", u)
    val commit = Seq("commit.count" -> "count", "commit.update_ms" -> "ms",
      "commit.compact_ms" -> "ms", "commit.spark_jobs" -> "count",
      "commit.shuffle_bytes" -> "B", "commit.delta_bytes" -> "B",
      "commit.terms_bytes" -> "B", "commit.compact_bytes" -> "B",
      "commit.written_bytes_per_doc" -> "B", "commit.handle_ms" -> "ms",
      "commit.first_block_fetch_ms" -> "ms")
    val tr = Seq("trace.spans" -> "count", "trace.overhead_pct" -> "%")
    text ++ build ++ query ++ commit ++ tr
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Time `Extract.extractText` and `Lexer.tokenize` on the first 300 pages
    * of `sample`, single thread; the median of three passes.
    */
  private def text(w: Workload): Map[String, Double] = {
    val pages = w.sample.take(300)
    def passes[A](body: => A): (Double, A) = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val a = body
        ((System.nanoTime() - t0) / 1e3, a)
      }
      (median(runs.map(_._1)), runs.head._2)
    }
    val (extractUs, texts) = passes(
      w.trace.span("text.extract")(
        pages.flatMap(p => Extract.extractText(p.html, p.text))))
    val (tokenizeUs, tokens) = passes(
      w.trace.span("text.tokenize")(texts.map(t => Lexer.tokenize(t).length).sum))
    Map(
      "text.extract_us_per_doc" -> extractUs / pages.length,
      "text.tokenize_us_per_doc" -> tokenizeUs / math.max(1, texts.length),
      "text.tokens_per_doc" -> tokens.toDouble / math.max(1, texts.length))
  }

  /** Stage times of the set-up build from the `_lineage` markers it
    * writes, and its Spark work from the listener.
    */
  private def build(w: Workload, spans: Seq[Span],
      byParent: Map[Long, Seq[Span]]): Map[String, Double] = {
    val s = spans.find(_.name == "build").get
    val m = w.built
    val recs = new Checkpoint(w.ctx.spark, w.indexDir, Workload.Conf.buildId)
      .readAll()
    def stage(n: String): Double =
      recs.filter(_.stage == n).map(_.wallMs.toDouble).maxOption.getOrElse(0.0)
    val work = w.trace.workUnder(s, byParent)
    val stages = Map(
      "ft" -> stage("ft"), "docs" -> stage("docs"),
      "terms_base" -> stage("terms_base"), "postings" -> stage("postings"),
      "terms" -> stage("terms"), "stats" -> stage("stats"),
      "blocks" -> stage("blocks"))
    // docs ∥ terms_base and terms ∥ stats run concurrently
    val covered = stages("ft") + math.max(stages("docs"), stages("terms_base")) +
      stages("postings") + math.max(stages("terms"), stages("stats")) +
      stages("blocks")
    stages.map { case (k, v) => s"build.${k}_ms" -> v } ++ Map(
      "build.wall_ms" -> s.ms,
      "build.residual_ms" -> (s.ms - covered),
      "build.postings" -> m.postingCount.toDouble,
      "build.terms" -> m.termCount.toDouble,
      "build.skew_ratio" -> m.skewRatio,
      "build.shuffle_write_bytes" -> work.shuffleWrite.toDouble,
      "build.shuffle_read_bytes" -> work.shuffleRead.toDouble,
      "build.spill_bytes" -> work.spill.toDouble,
      "build.gc_ms" -> work.gcMs.toDouble,
      "build.task_ms" -> work.taskMs.toDouble,
      "build.spark_jobs" -> work.jobs.toDouble)
  }

  /** The calls `searchTop` makes, per kind of search. */
  private def query(w: Workload, spans: Seq[Span],
      byParent: Map[Long, Seq[Span]]): Map[String, Double] = {
    val t = w.trace
    val byQuery = spans.filter(_.query != 0L).groupBy(_.query)
    Seq("hot", "cold").flatMap { kind =>
      val qs = byQuery.toSeq.filter { case (q, _) => t.kinds.get(q) == kind }
      def ms(name: String): Seq[Double] =
        qs.map(_._2.filter(_.name == name).map(_.ms).sum)
      def cnt(name: String): Seq[Double] =
        qs.map { case (q, _) => Option(t.counts.get((q, name))).fold(0.0)(_.doubleValue) }
      val roots = qs.flatMap(_._2.find(_.name == "query"))
      val http = qs.flatMap { case (_, ss) =>
        for {
          h <- ss.find(_.name == "http")
          i <- ss.find(_.name == "inproc")
        } yield h.ms - i.ms
      }
      Map(
        "count" -> qs.size.toDouble,
        "handle_ms" -> median(ms("handle")),
        "expand_ms" -> median(ms("expand")),
        "expanded_terms" -> mean(cnt("expanded_terms")),
        "candidate_postings" -> mean(cnt("candidate_postings")),
        "block_fetch_ms" -> median(ms("block_fetch")),
        "blocks_fetched" -> mean(cnt("blocks_fetched")),
        "spark_jobs" -> mean(roots.map(r => t.workUnder(r, byParent).jobs.toDouble)),
        "wand_ms" -> median(ms("wand")),
        "url_lookup_ms" -> median(ms("url_lookup")),
        "http_ms" -> median(http),
        "residual_ms" -> median(roots.map(r => t.selfMs(r, byParent)))
      ).map { case (k, v) => s"query.$kind.$k" -> v }
    }.toMap
  }

  private def commit(w: Workload, spans: Seq[Span],
      byParent: Map[Long, Seq[Span]]): Map[String, Double] = w match {
    case c: CommitWorkload if c.reports.size > 0 =>
      val reps = c.reports.asScala.toSeq
      val commits = spans.filter(_.name == "commit").sortBy(_.start)
      val works = commits.map(s => w.trace.workUnder(s, byParent))
      val written = c.written.asScala.toSeq
      // the first span of `name` after each commit: the first search on a
      // new index version opens its handle; the first block fetch may come
      // from a later probe when the first one expands to no term
      def firstAfter(name: String) = {
        val named = spans.filter(_.name == name).sortBy(_.start)
        commits.flatMap(cs => named.find(_.start > cs.end)).map(_.ms)
      }
      Map(
        "commit.count" -> reps.size.toDouble,
        "commit.update_ms" -> median(reps.filterNot(_._2.compacted).map(_._1)),
        "commit.compact_ms" -> median(reps.filter(_._2.compacted).map(_._1)),
        "commit.spark_jobs" -> mean(works.map(_.jobs.toDouble)),
        "commit.shuffle_bytes" ->
          mean(works.map(x => (x.shuffleWrite + x.shuffleRead).toDouble)),
        "commit.delta_bytes" -> median(written.map(_.getOrElse("deltas", 0L).toDouble)),
        "commit.terms_bytes" -> median(written.map(_.getOrElse("terms", 0L).toDouble)),
        "commit.compact_bytes" -> median(reps.zip(written)
          .filter(_._1._2.compacted).map(_._2.getOrElse("base", 0L).toDouble)),
        "commit.written_bytes_per_doc" ->
          written.map(_.values.sum).sum.toDouble /
            math.max(1, c.batches.map(_.size).sum),
        "commit.handle_ms" -> median(firstAfter("handle")),
        "commit.first_block_fetch_ms" -> median(firstAfter("block_fetch")))
    case _ => Map.empty
  }

  /** Fails the run when a replayed search took another top-k path than
    * `Wand.topKArray` on the same handle and plan: on warm block caches its
    * driver-local path runs no Spark job, its distributed path at least
    * one. The replay's `block_fetch_ms` and `wand_ms` are only the
    * program's figures while the two agree.
    */
  private def checkPaths(t: Trace, spans: Seq[Span]): Unit =
    spans.filter(_.name == "path_check").foreach { s =>
      Option(t.counts.get((s.query, "driver_local"))).foreach { local =>
        val jobs = t.listener.get.of(s.id).jobs
        if ((local == 1.0) != (jobs == 0L))
          throw new IllegalStateException(
            s"replayed search ${s.query} took the " +
              (if (local == 1.0) "driver-local" else "distributed") +
              s" top-k path, Wand.topKArray ran $jobs Spark jobs: " +
              "Searcher.driverLocal no longer follows Wand.topKArray's gate")
      }
    }

  /** Extra time of a traced replay over the same replay untraced, on
    * repeated searches (warm caches, no Spark job), as a share of the
    * untraced time: the median of the per-search differences over the
    * median untraced time.
    */
  private def overheadPct(t: Trace, spans: Seq[Span]): Double = {
    val pairs = spans.filter(_.name == "query").flatMap(s =>
      Option(t.counts.get((s.query, "untraced_ms"))).map(u => (s.ms, u)))
    if (pairs.isEmpty) 0.0
    else 100.0 * median(pairs.map { case (tr, u) => tr - u }) /
      math.max(1e-9, median(pairs.map(_._2)))
  }

  def of(w: Workload): Map[String, Double] = {
    val textM = text(w)
    val spans = w.trace.all
    val byParent = spans.groupBy(_.parent)
    checkPaths(w.trace, spans)
    val measured = textM ++ build(w, spans, byParent) ++
      query(w, spans, byParent) ++ commit(w, spans, byParent) ++ Map(
        "trace.spans" -> spans.size.toDouble,
        "trace.overhead_pct" -> overheadPct(w.trace, spans))
    Defs.map { case (n, _) => n -> measured.getOrElse(n, 0.0) }.toMap
  }

  /** Regular data files under `dir`: relative path → (size, mtime). Hadoop
    * checksum files and job markers are left out.
    */
  def files(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !skip(p))
      .map(p => root.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
    finally s.close()
  }

  private def skip(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".crc") || n == "_SUCCESS"
  }
}
