package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, Schema}
import graft.index.Schema.{Posting, Stats, TermEntry}
import graft.score.Scoring
import graft.text.Lexer

/** Distributed query engine (SURVEY.md §2.5, §3.2 rebuild shape).
  *
  * Per query: (1) driver tokenizes; (2) the dictionary scan expands tokens
  * into (termId, weight) — full-fidelity reference semantics, distributed,
  * with complete (no-false-negative) pushdown prefilters; (3) driver
  * computes idf scalars; (4) candidate postings/blocks are scanned with
  * `termId IN (...)` pushed to parquet; (5) scores sum per doc in
  * termId-ascending order (bit-identical to the oracle); (6) global top-k.
  */
object Search {

  sealed trait Method
  case object Bm25 extends Method
  case object Tfidf extends Method

  /** One expanded query term with everything scoring needs. */
  final case class QueryTerm(
      termId: Long, term: String, df: Long, weight: Float, idf: Float)

  final case class QueryPlan(
      terms: Vector[QueryTerm], // sorted by termId asc (= term byte order)
      stats: Stats,
      avgdl: Float)

  def loadStats(spark: SparkSession, indexDir: String): Stats =
    IndexHandles(spark, indexDir).stats

  /** Q1–Q5: tokenize, expand against the dictionary, attach idf.
    *
    * Scale note: the reference scans the whole dictionary per token
    * (model.rs:96). Here exact-only tokens (byte length ≤ 3 → edit budget
    * 0) become an `IN` filter (full pushdown), and fuzzy tokens scan only
    * terms with `octet_length(term) ≤ max(1.7·qlen, qlen+2)` — a complete
    * prefilter: prefix hits need ratio ≥ 0.5/0.85 ⇒ tlen ≤ 1.7·qlen, and
    * Levenshtein hits need |tlen−qlen| ≤ 2.
    */
  def plan(
      spark: SparkSession,
      h: IndexHandles,
      query: String,
      method: Method,
      params: Scoring.Params): QueryPlan = {
    import spark.implicits._
    val stats = h.stats
    val avgdl = Scoring.avgdl(stats.totalTokens, stats.docCount)

    val tokens = Lexer.tokenize(query).toVector.distinct
    if (tokens.isEmpty)
      return QueryPlan(Vector.empty, stats, avgdl)

    val withLen = tokens.map(t => (t, Expand.utf8Len(t)))
    val exactOnly = withLen.filter { case (_, l) => Expand.maxDist(l) == 0 }
    val fuzzy = withLen.filter { case (_, l) => Expand.maxDist(l) > 0 }

    val collected: Array[(Long, String, Long, Float)] = h.driverDict match {
      case Some(dict) =>
        // small dictionary: expand locally — no Spark job. Same semantics
        // as the distributed branch below (and as model.rs:96, which scans
        // the whole dictionary per token). TokenMatcher ≡ matchTerm
        // (property-tested), with the term's byte length computed once per
        // TERM instead of once per (term, token).
        val exactSet = exactOnly.map(_._1).toSet
        val matchers = fuzzy.map { case (tok, _) =>
          new Expand.TokenMatcher(tok)
        }
        val out = Array.newBuilder[(Long, String, Long, Float)]
        var i = 0
        while (i < dict.length) {
          val t = dict(i)
          if (exactSet.contains(t.term)) out += ((t.termId, t.term, t.df, 1.0f))
          else if (matchers.nonEmpty) {
            val tlen = Expand.utf8Len(t.term)
            var best = -1.0f
            matchers.foreach { m =>
              val w = m.weight(t.term, tlen)
              if (w > best) best = w
            }
            if (best >= 0.0f) out += ((t.termId, t.term, t.df, best))
          }
          i += 1
        }
        out.result()

      case None =>
        // tlen is a stored, cluster-sorted column ((tlen, term) range
        // layout) → parquet row-group and in-memory-batch stats prune both
        // dictionary scans. Indexes built before the column existed fall
        // back to computing it on the fly (no pruning, same semantics).
        val tlenCol =
          if (h.terms.columns.contains("tlen")) $"tlen"
          else octet_length($"term")
        val terms = h.terms
        val exactPart =
          if (exactOnly.isEmpty)
            spark.emptyDataset[(Long, String, Long, Float)]
          else terms.as[TermEntry]
            // exact lookups hit only rows whose byte length equals a query
            // token's — the tlen equality set reuses the (tlen, term)
            // clustering for free row-group pruning on >1M-term dictionaries
            .filter(tlenCol.isin(exactOnly.map(_._2).distinct: _*) &&
              $"term".isin(exactOnly.map(_._1): _*))
            .map(t => (t.termId, t.term, t.df, 1.0f))
        val fuzzyPart =
          if (fuzzy.isEmpty) spark.emptyDataset[(Long, String, Long, Float)]
          else {
            // COMPLETE pushdown (no false negatives — property-tested
            // against matchTerm): every reference match is either
            //   (a) a prefix pair — the term extends the token
            //       (startsWith range; weight ≥ 0.5 ⇒ tlen ≤ 1.7·qlen,
            //       +1 for Float-boundary safety), or the token extends
            //       the term (≤ |tok| explicit prefixes, IN list), or
            //   (b) inside the Levenshtein byte-length window
            //       tlen ∈ [qlen−budget, qlen+budget].
            // The disjunction replaces the coarse `tlen ≤ 1.7·maxQlen`
            // scan: on a tlen-clustered 1.2M-term dictionary the window
            // predicates prune most cached batches before the match loop.
            val cond = fuzzy.map { case (tok, qlen) =>
              val budget = Expand.maxDist(qlen)
              val levWin = tlenCol.between(qlen - budget, qlen + budget)
              val prefixA = $"term".startsWith(tok) &&
                tlenCol <= (1.7 * qlen).toInt + 1
              val prefixes = Expand.pushdownPrefixes(tok)
              if (prefixes.isEmpty) levWin || prefixA
              else levWin || prefixA || $"term".isin(prefixes: _*)
            }.reduce(_ || _)
            val fz = fuzzy.map(_._1) // stable local for closure
            terms
              .filter(cond)
              .select($"termId", $"term", $"df",
                tlenCol.cast("int").as("tlen"))
              .as[(Long, String, Long, Int)]
              .mapPartitions { it =>
                val matchers = fz.map(new Expand.TokenMatcher(_))
                it.flatMap { case (termId, term, df, tlen) =>
                  var best = -1.0f
                  matchers.foreach { m =>
                    val w = m.weight(term, tlen)
                    if (w > best) best = w
                  }
                  if (best >= 0.0f)
                    Iterator.single((termId, term, df, best))
                  else Iterator.empty
                }
              }
          }
        exactPart.union(fuzzyPart).collect()
    }
    // cross-token max-merge (Q3) — exact duplicates across the two parts
    // can't happen (disjoint token sets), but a fuzzy token can reach an
    // exact token's term; keep the max weight per termId.
    val merged = collected
      .groupBy(_._1)
      .map { case (_, rows) => rows.maxBy(_._4) }
      .toVector
      .sortBy(_._1)

    val n = stats.docCount
    val qts = merged.map { case (termId, term, df, weight) =>
      val idf = method match {
        case Bm25 => Scoring.bm25Idf(n, df)
        case Tfidf => Scoring.tfidfIdf(n, df)
      }
      QueryTerm(termId, term, df, weight, idf)
    }
    QueryPlan(qts, stats, avgdl)
  }

  /** Naive scorer (Q6/Q7 as join-aggregate): exact reference scores for
    * every doc containing ≥1 expanded term; all other docs score exactly 0
    * in the reference too (SURVEY.md Q8). Returns (docId, score).
    */
  def scoreNaive(
      spark: SparkSession,
      h: IndexHandles,
      qp: QueryPlan,
      method: Method,
      params: Scoring.Params = Scoring.Params()): DataFrame = {
    import spark.implicits._
    if (qp.terms.isEmpty || (method == Bm25 && qp.avgdl == 0.0f))
      return spark.emptyDataset[(Long, Float)].toDF("docId", "score")

    val termInfo: Map[Long, (Float, Float)] =
      qp.terms.map(t => t.termId -> (t.weight, t.idf)).toMap
    val bTermInfo = spark.sparkContext.broadcast(termInfo)
    val avgdl = qp.avgdl
    val p = params
    val m = method

    val postings = h.postingsFor(qp.terms.map(_.termId))
      .select($"termId", $"docId", $"tf", $"docLen")
      .as[Posting]

    postings
      .groupByKey(_.docId)
      .mapGroups { (docId, it) =>
        // deterministic Float sum: termId ascending
        val rows = it.toArray.sortBy(_.termId)
        var s = 0.0f
        rows.foreach { r =>
          val (weight, idf) = bTermInfo.value(r.termId)
          s += (m match {
            case Bm25 => Scoring.bm25Contrib(
              r.tf.toFloat, r.docLen.toFloat, avgdl, idf, weight, p)
            case Tfidf => Scoring.tfidfContrib(
              r.tf.toFloat, r.docLen.toFloat, idf, weight)
          })
        }
        (docId, s)
      }
      .toDF("docId", "score")
  }

  /** Server-semantics top-k (`server.rs:85-90`): positive scores only,
    * deterministic tiebreak (score desc, docId asc), urls attached.
    * `useWand = true` routes through the block-max WAND operator instead of
    * the naive join-aggregate — results are identical (property-tested).
    *
    * `padToK = true` reproduces the reference CLI's divergent top-20
    * semantics instead (`main.rs:290` takes k INCLUDING zero-scored docs
    * when fewer than k match). The reference pads in HashMap iteration
    * order — nondeterministic — so the rebuild pads deterministically by
    * docId asc (COVERAGE.md divergence #3). Default off = served semantics.
    *
    * The same rows as a `(url, score, docId)` frame — a thin wrapper over
    * [[searchTopRows]], so both share one code path.
    */
  def searchTop(
      spark: SparkSession,
      indexDir: String,
      query: String,
      method: Method,
      k: Int,
      useWand: Boolean = true,
      params: Scoring.Params = Scoring.Params(),
      padToK: Boolean = false): DataFrame = {
    import spark.implicits._
    spark.createDataset(searchTopRows(spark, indexDir, query, method, k,
      useWand, params, padToK).toSeq).toDF("url", "score", "docId")
  }

  /** [[searchTop]]'s rows as a driver array `(url, score, docId)`, in rank
    * order. The serving path uses this directly: building and collecting a
    * Catalyst frame of ≤ k driver rows costs more than a cached search.
    */
  def searchTopRows(
      spark: SparkSession,
      indexDir: String,
      query: String,
      method: Method,
      k: Int,
      useWand: Boolean = true,
      params: Scoring.Params = Scoring.Params(),
      padToK: Boolean = false): Array[(String, Float, Long)] = {
    import spark.implicits._
    val h = IndexHandles(spark, indexDir)
    val qp = plan(spark, h, query, method, params)
    // ≤ k rows land on the driver; urls attach via the handle's bounded
    // docId→url cache (pruned isin lookup on miss) — a broadcast join here
    // would stream the ENTIRE docs table through the probe side per query
    var top: Array[(Long, Float)] =
      if (useWand)
        // already (score desc, docId asc)-sorted and ≤ k; under padToK
        // this is the fast path that stands when it fills k
        Wand.topKArray(spark, h, qp, method, k, params)
          .filter(_._2 > 0.0f)
      else if (padToK)
        // the full-list branch below runs scoreNaive anyway — running the
        // positives-only pass first would execute the identical plan twice
        Array.empty[(Long, Float)]
      else scoreNaive(spark, h, qp, method, params)
        .filter($"score" > 0.0f)
        .orderBy($"score".desc, $"docId".asc)
        .limit(k)
        .as[(Long, Float)]
        .collect()
    if (padToK && top.length < k) {
      // reference CLI semantics (main.rs:290): top-k of the FULL scored
      // list — every doc is scored, non-matching docs sit at 0.0, and
      // negative-idf matches keep their REAL scores, ranked BELOW the
      // zeros. A zeros-only pad would forge 0.0 for negative matches and
      // misrank them above nothing-in-common docs. Distributed top-k over
      // the docs table (left join against the ≤-corpus matched scores, a
      // sort-limit Spark executes as takeOrdered) — no unbounded collect.
      val scored = scoreNaive(spark, h, qp, method, params)
      top = h.docs.select($"docId")
        .join(scored, Seq("docId"), "left")
        .select($"docId",
          coalesce($"score", lit(0.0f)).cast("float").as("score"))
        .orderBy($"score".desc, $"docId".asc)
        .limit(k)
        .as[(Long, Float)]
        .collect()
    }
    if (top.isEmpty) return Array.empty
    val urls = h.urlsFor(top.map(_._1).toSeq)
    top.map { case (docId, score) =>
      (urls.getOrElse(docId, ""), score, docId)
    }
  }
}
