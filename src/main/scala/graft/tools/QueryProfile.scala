package graft.tools

import graft.query.{IndexHandles, Search, Wand}
import graft.score.Scoring

/** Phase-level query profiler: times plan (expansion), WAND core, naive
  * core, and the full searchTop separately, several iterations each.
  * Usage: runMain graft.tools.QueryProfile <indexDir> [query] [iters]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val indexDir = args(0)
    val query = args.lift(1).getOrElse("opengl")
    val iters = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = SparkSearchCli.localSession("32")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("--coalesce")) {
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    }

    val h = IndexHandles(spark, indexDir)
    def time(name: String)(body: => Unit): Unit = {
      body // warm-up
      val times = (0 until iters).map { _ =>
        val t = System.nanoTime()
        body
        (System.nanoTime() - t) / 1e6
      }
      println(f"$name%-28s p50=${times.sorted.apply(iters / 2)}%9.1f ms  " +
        s"all=${times.map(t => f"$t%.0f").mkString(",")}")
    }

    val p = Scoring.Params()
    time("plan (expansion)") {
      Search.plan(spark, h, query, Search.Bm25, p)
    }
    val qp = Search.plan(spark, h, query, Search.Bm25, p)
    println(s"expanded terms: ${qp.terms.size} " +
      qp.terms.map(t => s"${t.term}(df=${t.df})").mkString(" "))
    time("wand core (collect ids)") {
      Wand.topK(spark, h, qp, Search.Bm25, 10, p).collect()
    }
    time("naive core (collect ids)") {
      Search.scoreNaive(spark, h, qp, Search.Bm25, p)
        .orderBy(org.apache.spark.sql.functions.col("score").desc)
        .limit(10).collect()
    }
    time("searchTop full") {
      Search.searchTop(spark, indexDir, query, Search.Bm25, 10).collect()
    }
    time("blocks scan only (count)") {
      h.layeredBlocks(Some(qp.terms.map(_.termId))).count()
    }
    time("dict cached scan (count)") {
      h.terms.count()
    }
    // deliberately the PRE-round-4 expansion shape (coarse tlen ≤ 1.7·max
    // filter + per-pair matchTerm with full DP + allocations): kept as the
    // in-place A/B against "plan (expansion)" above, which now runs the
    // banded TokenMatcher over the tight pushdown (measured 1.26 s → 0.36 s
    // on the 1.2M-term dictionary)
    time("dict fuzzy scan LEGACY shape (count)") {
      import org.apache.spark.sql.functions.{col, octet_length}
      import spark.implicits._
      val toks = graft.text.Lexer.tokenize(query).toVector.distinct
        .map(t => (t, graft.query.Expand.utf8Len(t)))
        .filter { case (_, l) => graft.query.Expand.maxDist(l) > 0 }
      if (toks.nonEmpty) {
        val maxLen = toks.map { case (_, l) =>
          math.max((l * 1.7).toInt, l + 2) }.max
        val tlenCol =
          if (h.terms.columns.contains("tlen")) col("tlen")
          else octet_length(col("term"))
        h.terms.as[graft.index.Schema.TermEntry]
          .filter(tlenCol <= maxLen)
          .flatMap { t =>
            var best = -1.0f
            toks.foreach { case (tok, qlen) =>
              graft.query.Expand.matchTerm(tok, qlen, t.term).foreach { w =>
                if (w > best) best = w
              }
            }
            if (best >= 0.0f) Iterator.single((t.termId, best))
            else Iterator.empty
          }.count()
      }
    }
    locally {
      val ids = qp.terms.map(_.termId)
      def collected() = h.layeredBlocks(Some(ids)).collect()
      val blocks = collected()
      println(s"candidate blocks: ${blocks.length}")
      time("blocks collect (local path)") { collected() }
      val ti = qp.terms.map(t => t.termId -> (t.weight, t.idf)).toMap
      time("driver-local wandBucket") {
        Wand.wandBucket(blocks.iterator, ti, qp.avgdl, Search.Bm25, 10, p)
          .toArray
      }
    }
    spark.stop()
  }
}
