package graft.tools

import graft.ops.{Corpus, Dedup, FtSql, Multimodal, TextStats}
import graft.query.{IndexHandles, Search}

/** Dumps formatted physical plans of the hot paths so pushdowns, partition
  * pruning and whole-stage codegen spans are inspectable (and regressions
  * reviewable in PRs). Run: runMain graft.tools.ExplainAudit [sfDir]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSearchCli.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")

    val idx = Corpus.ensureIndex(spark, sfDir)
    val h = IndexHandles(spark, idx)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    val qp = Search.plan(spark, h, "dup data",
      Search.Bm25, graft.score.Scoring.Params())
    dump("postings scan for naive scorer (expect: partition filter on " +
      "group, PushedFilters In(termId))",
      h.postingsFor(qp.terms.map(_.termId)))
    dump("blocks scan for WAND (same pruning expectations)",
      h.layeredBlocks(Some(qp.terms.map(_.termId))).toDF())
    dump("full bm25 search (WAND)",
      Search.searchTop(spark, idx, "dup data", Search.Bm25, 10))
    dump("ft_bm25_topk SQL-analog (expect ReadSchema pruned to " +
      "doc_id/text; WholeStageCodegen spans)",
      FtSql.bm25TopK(spark, sfDir))
    dump("dedup exact (expect partial/final hash agg)",
      Dedup.exact(spark, sfDir))

    // IVF ANN: the persisted cells layout is partitionBy("cell"), so the
    // probe filter must surface as PARTITION pruning — at scale this is
    // the difference between reading nprobe/nlist of the files and
    // scanning the whole corpus per query. Assert it, don't just print.
    val ivf = graft.ops.Ann.ivfTopK(spark, sfDir, queryVecId = 0L, k = 10,
      nlist = 8, nprobe = 2, iters = 3)
    dump("ann ivf query (expect PartitionFilters: cell IN (probes) on the " +
      "cells scan — only probed cell= dirs read)", ivf)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    require(
      raw"PartitionFilters: \[[^\]]*cell[^\]]*".r
        .findFirstIn(ivfPlan).isDefined,
      "ivf cells scan lost its cell partition filter")
    println("ann ivf: PartitionFilters on cell ✓")

    // IVF-PQ: same pruning contract over the m-byte code layout — the
    // ADC scan must read only the probed cell= partitions
    // rerank = 0 keeps the ADC cells scan inside the returned plan (the
    // rerank > 0 path pushes collected candidate ids into the source
    // scan as In(vec_id), leaving only the rerank side in-plan)
    val ivfpq = graft.ops.Ann.ivfPqTopK(spark, sfDir, queryVecId = 0L,
      k = 10, nlist = 8, nprobe = 2, rerank = 0, iters = 3)
    dump("ann ivf-pq query (expect PartitionFilters: cell IN (probes) on " +
      "the pq cells scan; exact rerank join on the source table)", ivfpq)
    val pqPlan = ivfpq.queryExecution.executedPlan.toString
    require(
      raw"PartitionFilters: \[[^\]]*cell[^\]]*".r
        .findFirstIn(pqPlan).isDefined,
      "ivf-pq cells scan lost its cell partition filter")
    println("ann ivf-pq: PartitionFilters on cell ✓")

    // the >1M-term serving path: driver dict disabled → exact lookups go
    // through the DISTRIBUTED dictionary scan. This frame mirrors
    // Search.plan's exactPart filter (Search.scala) — expect PushedFilters
    // In(tlen) + In(term) over the (tlen, term)-clustered dictionary =
    // free parquet row-group pruning.
    import org.apache.spark.sql.functions.col
    dump("exact-token dictionary lookup, distributed branch " +
      "(expect In(tlen)+In(term) as parquet PushedFilters, or as " +
      "InMemoryTableScan predicates — cache-batch-stat pruning — when " +
      "the handle has the dictionary persisted)",
      h.terms.filter(col("tlen").isin(4, 5) &&
        col("term").isin("DATA", "QUERI")))

    // pipeline ops must be narrow maps ABOVE THE INPUT: no Sort, and the
    // only Exchange allowed is InputLayout.spread's hash repartition on
    // doc_id directly over an under-split scan (single-row-group testdata
    // — it disappears on well-split input, so the operator itself stays
    // narrow; oracle-comparison ordering lives in the SparkEntry
    // wrappers, not the operators). Assert it, don't just print it.
    def assertNoGlobalSort(name: String, df: org.apache.spark.sql.DataFrame)
        : Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val strayExchange = "Exchange \\S+".r.findAllIn(plan)
        .filterNot(_.startsWith("Exchange hashpartitioning")).toSeq
      val bad = strayExchange ++ Seq("Sort ").filter(plan.contains) ++
        "Exchange hashpartitioning\\((?!doc_id)".r.findFirstIn(plan)
      println(s"$name: ${if (bad.isEmpty)
        "narrow above input (no Sort; only the doc_id input spread) ✓"
      else s"UNEXPECTED ${bad.mkString(",")} in plan ✗"}")
      require(bad.isEmpty, s"$name plan contains ${bad.mkString(",")}")
    }
    // q2: aggregate-before-join shape — the pre-agg must show a
    // partial_sum BEFORE its exchange (map-side combine: one row per
    // order key per map partition reaches the shuffle). r6: the
    // order-existence check is an INNER join on the unique o_orderkey
    // (≡ the r5 semi join row-for-row) precisely so that
    // PushDownLeftSemiAntiJoin can NOT push it below the aggregate —
    // the probe stays above the exchange, running on aggregated rows in
    // parallel instead of on every raw fact row inside the scan task.
    // At driver scales AQE converts it to broadcast at runtime (at real
    // TPC-H scale orders is a fact table — the SHUFFLED join is the
    // scale-correct static plan, which is why the code does not hint
    // broadcast).
    locally {
      val q2 = graft.SparkEntry.queries("q2_join_topk")(spark, sfDir)
      // collect() (it's a LIMIT 10) executes THIS Dataset's own
      // QueryExecution, which is what finalizes its AdaptiveSparkPlan —
      // count() would build a separate groupBy QueryExecution and leave
      // q2's plan un-finalized, making the asserts below read the
      // static plan while claiming to read the runtime one
      q2.collect()
      dump("q2_join_topk final AQE plan (expect partial_sum before " +
        "exchange; semi-join broadcast-converted at this scale)", q2)
      val plan = q2.queryExecution.executedPlan.toString
      require(plan.contains("partial_sum"),
        "q2 lost its map-side partial aggregation")
    }

    assertNoGlobalSort("text_langid op frame", TextStats.langId(spark, sfDir))
    assertNoGlobalSort("text_quality op frame", TextStats.quality(spark, sfDir))
    assertNoGlobalSort("text_token_counts op frame",
      TextStats.tokenCounts(spark, sfDir))
    assertNoGlobalSort("text_fingerprints op frame",
      TextStats.fingerprints(spark, sfDir))
    assertNoGlobalSort("mm_image_meta op frame",
      Multimodal.imageMeta(spark, sfDir))
    assertNoGlobalSort("mm_frame_sample op frame",
      Multimodal.frameSample(spark, sfDir))

    spark.stop()
  }
}
