package perfbench

import org.apache.spark.sql.SparkSession

import graft.corpus.Synth
import graft.oracle.RefModel
import graft.query.Search

/** Lists the BM25 queries the program answers wrongly on the `serve`
  * corpus: the fault probe the `serve` workload counts as failed, plus a
  * seeded sample of head-term + positive-term queries (the class the
  * workloads never generate). For each, it shows whether the naive scorer
  * (`searchTop(useWand = false)`) matches the oracle.
  */
object Failures {
  val Sample = 120

  def run(seed: Long, work: String): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(work, cores)
    import spark.implicits._
    try {
      val rows = Gen.pages(4000, 0L)
      Gen.writeTable(spark, rows, s"$work/pages", cores)
      val dir = s"$work/index"
      graft.index.IndexBuilder.build(
        spark, spark.read.parquet(s"$work/pages"), dir, Workload.Conf)
      val oracle = new RefModel()
      rows.foreach(p => Workload.upsert(oracle, p))
      val rng = new Synth.Rng(seed)
      val candidates = (Queries.FaultProbe +: Queries.head ++: IndexedSeq.fill(Sample) {
        val h = Queries.head(rng.nextInt(Queries.head.length))
        val m = Queries.mid(rng.nextInt(Queries.mid.length))
        if (rng.nextInt(2) == 0) s"$h $m" else s"$m $h"
      }).distinct
      def top(q: String, wand: Boolean) =
        Search.searchTop(spark, dir, q, Search.Bm25, Searcher.K, useWand = wand)
          .select("url", "score").as[(String, Float)].collect().toVector
      var failing = 0
      var naiveOk = 0
      candidates.foreach { q =>
        val want = oracle.searchTop(q, RefModel.Bm25, Searcher.K)
        val got = top(q, wand = true)
        Check.topK(got, want).foreach { why =>
          failing += 1
          val naive = Check.topK(top(q, wand = false), want)
          if (naive.isEmpty) naiveOk += 1
          println(s"FAIL ${Main.quote(q)} wand: $why; naive: " +
            naive.getOrElse("matches the oracle"))
          if (q == Queries.FaultProbe)
            println(s"  oracle: $want\n  wand:   $got")
        }
      }
      println(s"${candidates.size} queries checked, $failing answered " +
        s"wrongly by WAND, $naiveOk of those answered correctly by the " +
        "naive scorer")
      if (naiveOk == failing) 0 else 1
    } finally spark.stop()
  }
}
