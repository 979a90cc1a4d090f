package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Blocks
import graft.index.Schema.TermBlock
import graft.score.Scoring

/** Distributed block-max WAND top-k (SURVEY.md Q10, north rule).
  *
  * Physical shape: candidate blocks (`termId IN (...)` pushed to parquet —
  * only the query terms' row groups are read) are shuffled once by docId
  * bucket so all terms of a docId range are co-located, then each bucket
  * runs document-at-a-time WAND with a k-heap:
  *
  *   - pivot selection over term-level upper bounds (only POSITIVE bounds
  *     drive; negative-idf terms — the reference's unclamped idf — never
  *     raise a score, so they are excluded from bounds but still scored
  *     exactly at candidates);
  *   - whole blocks are skipped without decoding when advancing;
  *   - admitted candidates get EXACT scores summed in termId order, so
  *     results are bit-identical to the naive join-aggregate scorer (and
  *     the oracle) — pruning is bound-safe by construction.
  *
  * Merge-on-read deltas: blocks arrive LAYERED (`_seq` = 0 for base, the
  * delta seq otherwise) and a docId may appear in several layers, of which
  * at most one is live (`seq >= tombMap(docId)` — [[graft.index.DeltaLog]]).
  * Cursors are built per (termId, layer) — ranges are disjoint within a
  * layer — and only live layers contribute to candidate scores. Dead layers
  * only ever INFLATE upper bounds, so pruning stays safe.
  *
  * Latency shape: when the candidate posting volume (Σ df) is small enough
  * — `graft.maxLocalWandPostings`, default 4M — the candidate blocks are
  * collected and WAND runs driver-local over all buckets at once: ONE Spark
  * job per query (the block scan), no shuffle. Head-term queries above the
  * gate take the distributed path: one repartition-by-bucket sized to
  * min(buckets, parallelism) and per-bucket WAND. The per-bucket partial
  * top-k (≤ k rows per bucket) then reduces to the global top-k.
  */
object Wand {

  /** Upper bound of one term's contribution for ANY doc in a block.
    * partial(tf, dl) is increasing in tf, decreasing in dl ⇒
    * ub = w·idf·partial(maxTf, minDl) for idf ≥ 0, w·idf·partial(minTf,
    * maxDl) for idf < 0 (≤ 0 then).
    */
  private def blockUpperBound(
      b: TermBlock,
      weight: Float,
      idf: Float,
      avgdl: Float,
      method: Search.Method,
      p: Scoring.Params): Float = {
    def partial(tf: Float, dl: Float): Float = method match {
      case Search.Bm25 =>
        Scoring.bm25Contrib(tf, dl, avgdl, idf, weight, p)
      case Search.Tfidf =>
        Scoring.tfidfContrib(tf, dl, idf, weight)
    }
    if (idf >= 0.0f) partial(b.maxTf.toFloat, b.minDocLen.toFloat)
    else partial(b.minTf.toFloat, b.maxDocLen.toFloat)
  }

  private final class Cursor(
      val termId: Long,
      val seq: Int, // layer: 0 = base, else the delta seq
      val weight: Float,
      val idf: Float,
      blocksIn: Array[TermBlock],
      avgdl: Float,
      method: Search.Method,
      p: Scoring.Params) {
    // per-(term, layer) blocks ordered by minDocId (ranges are disjoint
    // within one layer)
    private val blocks = blocksIn.sortBy(_.minDocId)
    val termUb: Float = {
      var m = 0.0f
      blocks.foreach { b =>
        val u = blockUpperBound(b, weight, idf, avgdl, method, p)
        if (u > m) m = u
      }
      m // max(0, bounds): negative-idf terms never drive
    }
    private var bi = 0
    private var pos = 0
    private var dec: Blocks.Decoded = null
    var curDoc: Long = Long.MaxValue
    positionAtBlockStart()

    /** Upper bound of THIS cursor's current block (0 when exhausted) —
      * the block-max re-check that lets aligned candidates be skipped
      * without decoding (Ding & Suel block-max WAND). Clamped at 0 like
      * [[termUb]]: the skip moves past every doc up to the block end, and
      * docs there that LACK a negative-idf term do not pay its negative
      * bound, so a negative summand would let the skip drop docs above θ.
      */
    private var ubBi = -1
    private var ubVal = 0.0f
    def curBlockUb: Float = {
      if (bi >= blocks.length) return 0.0f
      if (ubBi != bi) {
        ubVal = math.max(0.0f,
          blockUpperBound(blocks(bi), weight, idf, avgdl, method, p))
        ubBi = bi
      }
      ubVal
    }

    /** Last docId of the current block (shallow — no decode needed). */
    def curBlockMaxDoc: Long =
      if (bi < blocks.length) blocks(bi).maxDocId else Long.MaxValue

    private def positionAtBlockStart(): Unit = {
      dec = null
      pos = 0
      curDoc = if (bi < blocks.length) blocks(bi).minDocId else Long.MaxValue
    }

    private def ensureDecoded(): Unit = {
      if (dec == null && bi < blocks.length) {
        dec = Blocks.decode(blocks(bi))
        // pos stays; curDoc == dec.docIds(pos) holds at block start
      }
    }

    /** Advance to the first docId ≥ target; skips whole blocks without
      * decoding them.
      */
    def advanceTo(target: Long): Unit = {
      if (curDoc >= target) return
      // skip whole blocks
      while (bi < blocks.length && blocks(bi).maxDocId < target) {
        bi += 1
        positionAtBlockStart()
      }
      if (bi >= blocks.length) { curDoc = Long.MaxValue; return }
      if (blocks(bi).minDocId >= target) {
        // fresh block starting at/after target (positionAtBlockStart already
        // set curDoc = minDocId, dec = null) — no decode needed yet
        return
      }
      ensureDecoded()
      while (pos < dec.docIds.length && dec.docIds(pos) < target) pos += 1
      if (pos >= dec.docIds.length) {
        bi += 1
        positionAtBlockStart()
        advanceTo(target)
      } else curDoc = dec.docIds(pos)
    }

    /** Exact contribution for curDoc (must be positioned on a real doc). */
    def contribAtCur(): Float = {
      ensureDecoded()
      // after a no-decode advance, pos may still be 0 at block start — the
      // decode above makes dec.docIds(pos) == curDoc hold
      val tf = dec.tfs(pos).toFloat
      val dl = dec.docLens(pos).toFloat
      method match {
        case Search.Bm25 => Scoring.bm25Contrib(tf, dl, avgdl, idf, weight, p)
        case Search.Tfidf => Scoring.tfidfContrib(tf, dl, idf, weight)
      }
    }

    def step(): Unit = { // move past curDoc
      ensureDecoded()
      pos += 1
      if (pos >= dec.docIds.length) {
        bi += 1
        positionAtBlockStart()
      } else curDoc = dec.docIds(pos)
    }
  }

  /** (score desc, docId asc)-top-k heap; head = worst kept entry. */
  private val worstFirst: Ordering[(Float, Long)] =
    new Ordering[(Float, Long)] {
      def compare(a: (Float, Long), b: (Float, Long)): Int = {
        val c = java.lang.Float.compare(b._1, a._1) // smaller score = worse
        if (c != 0) c else java.lang.Long.compare(a._2, b._2) // larger docId = worse
      }
    }

  /** Run WAND over one co-located group of layered blocks (one bucket, one
    * partition's buckets, or — on the driver-local path — the whole
    * candidate set: correctness only needs all layers of a docId present).
    * Emits ≤ k (docId, score) rows.
    */
  def wandBucket(
      blocks: Iterator[(Int, TermBlock)],
      termInfo: Map[Long, (Float, Float)], // termId → (weight, idf)
      avgdl: Float,
      method: Search.Method,
      k: Int,
      p: Scoring.Params,
      tomb: Map[Long, Int] = Map.empty): Iterator[(Long, Float)] = {
    val byLayer = blocks.toArray.groupBy(sb => (sb._2.termId, sb._1))
    val cursors: Array[Cursor] = byLayer.toArray
      .sortBy(_._1) // (termId, seq) asc — fixed order for deterministic sums
      .map { case ((termId, seq), bs) =>
        val (w, idf) = termInfo(termId)
        new Cursor(termId, seq, w, idf, bs.map(_._2), avgdl, method, p)
      }
    if (cursors.isEmpty) return Iterator.empty
    val heap = mutable.PriorityQueue.empty[(Float, Long)](worstFirst)
    val noTombs = tomb.isEmpty

    def theta: Float =
      if (heap.size >= k) heap.head._1 else Float.NegativeInfinity

    // arr is kept sorted by curDoc via in-place insertion sort (nearly
    // sorted between iterations — the hot loop allocates NOTHING);
    // exhausted cursors (curDoc = MaxValue) sink to the tail
    val arr = cursors.clone()
    def sortArr(): Unit = {
      var i = 1
      while (i < arr.length) {
        val c = arr(i)
        val d = c.curDoc
        var j = i - 1
        while (j >= 0 && arr(j).curDoc > d) {
          arr(j + 1) = arr(j)
          j -= 1
        }
        arr(j + 1) = c
        i += 1
      }
    }

    var done = false
    while (!done) {
      sortArr()
      if (arr(0).curDoc == Long.MaxValue) done = true
      else {
        // pivot: minimal prefix whose positive term-ub sum reaches θ
        var acc = 0.0f
        var pivotIdx = -1
        var i = 0
        val th = theta
        while (pivotIdx < 0 && i < arr.length &&
            arr(i).curDoc != Long.MaxValue) {
          acc += arr(i).termUb
          if (acc >= th) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) done = true // even all ubs can't reach θ
        else {
          val pivotDoc = arr(pivotIdx).curDoc
          if (arr(0).curDoc == pivotDoc) {
            // aligned: cursors at pivotDoc form the prefix arr(0..e)
            var e = 0
            while (e + 1 < arr.length && arr(e + 1).curDoc == pivotDoc)
              e += 1
            // block-max re-check: the CURRENT blocks' bound sum is much
            // tighter than the global term-ub sum that picked the pivot.
            // Strictly-below-θ docs can't enter the heap (equal-score ties
            // go through exact scoring, preserving the docId tiebreak), so
            // the whole aligned group can move past these blocks WITHOUT
            // decoding them.
            var bub = 0.0f
            var j = 0
            while (j <= e) { bub += arr(j).curBlockUb; j += 1 }
            if (bub < th) {
              // shallow skip to the first doc where the block set can
              // change: min current-block end + 1, capped by the next
              // cursor's position (a new term joining could raise the sum)
              var nxt = Long.MaxValue
              j = 0
              while (j <= e) {
                val b = arr(j).curBlockMaxDoc
                if (b < nxt) nxt = b
                j += 1
              }
              var target = nxt + 1
              if (e + 1 < arr.length && arr(e + 1).curDoc < target)
                target = arr(e + 1).curDoc
              j = 0
              while (j <= e) { arr(j).advanceTo(target); j += 1 }
            } else {
              // exact score in termId order (cursors master array is
              // (termId, seq)-sorted; at most one layer per term is live
              // for a given doc, so the sum order is termId asc — bit-
              // identical to the naive scorer)
              val tombSeq = if (noTombs) 0 else tomb.getOrElse(pivotDoc, 0)
              var s = 0.0f
              var anyLive = false
              cursors.foreach { c =>
                if (c.curDoc == pivotDoc && c.seq >= tombSeq) {
                  s += c.contribAtCur()
                  anyLive = true
                }
              }
              if (anyLive) {
                val cand = (s, pivotDoc)
                if (heap.size < k) heap.enqueue(cand)
                else if (worstFirst.compare(cand, heap.head) < 0) {
                  // beats the current worst under (score desc, docId asc)
                  heap.dequeue()
                  heap.enqueue(cand)
                }
              }
              j = 0
              while (j <= e) { arr(j).step(); j += 1 }
            }
          } else {
            // advance the earliest cursor up to the pivot
            arr(0).advanceTo(pivotDoc)
          }
        }
      }
    }
    heap.iterator.map { case (score, docId) => (docId, score) }
  }

  /** Envelope row for the tombstone-overflow path: candidate blocks and
    * tombstones co-partitioned by docId bucket (exactly one of block /
    * tombDoc is meaningful per row). NOT private: Catalyst's generated
    * deserializer needs constructor access.
    */
  final case class BucketRow(
      bucket: Int, seq: Int, block: Option[TermBlock],
      tombDoc: Long, tombSeq: Int)

  /** Distributed WAND with DISTRIBUTED liveness: when the tombstone set
    * exceeds `graft.maxDriverTombstones` ([[IndexHandles.tombOverflow]]),
    * neither the driver map nor an executor broadcast of it is viable —
    * at the 10^12-doc target, 20% churn is a multi-GB working set. Both
    * sides are instead shuffled ONCE by docId bucket (tombstone bucket =
    * docId / bucketSize, the same arithmetic [[graft.index.Blocks.encode]]
    * stamps on blocks), so each bucket's WAND sees exactly its own
    * tombstones: per-task liveness state is corpus/buckets-bounded, and no
    * driver collect scales with churn. Compaction
    * (min(tombstoneCompactFraction·docCount, tombstoneAbsoluteCap))
    * normally folds long before this path engages; it is the correctness
    * backstop for a maintenance lull, not the steady state.
    */
  private def topKTombDistributed(
      spark: SparkSession,
      h: IndexHandles,
      qp: Search.QueryPlan,
      method: Search.Method,
      k: Int,
      params: Scoring.Params,
      termInfo: Map[Long, (Float, Float)]): Array[(Long, Float)] = {
    import spark.implicits._
    val avgdl = qp.avgdl
    val m = method
    val kk = k
    val p = params
    val bInfo = spark.sparkContext.broadcast(termInfo)
    val bucketSize = math.max(1L, h.meta("bucketSize").toLong)
    val blocks = h.layeredBlocks(Some(qp.terms.map(_.termId)))
      .map { case (seq, b) => BucketRow(b.bucket, seq, Some(b), -1L, 0) }
    val tombs = h.snapshot.tombstones.get
      .select(col("docId").cast("long"), col("tombSeq").cast("int"))
      .as[(Long, Int)]
      .map { case (d, s) =>
        BucketRow((d / bucketSize).toInt, 0, None, d, s)
      }
    val parts = math.max(1, math.min(
      h.meta.get("queryBuckets").map(_.toInt).getOrElse(64),
      spark.sparkContext.defaultParallelism))
    val partials = blocks.unionByName(tombs)
      .repartition(parts, col("bucket"))
      // sort within the partition so buckets can be STREAMED one at a
      // time: materializing the whole partition (tombRows/parts rows)
      // would put per-task memory back on the churn axis this path exists
      // to get off — per-bucket state is all WAND ever needs
      .sortWithinPartitions(col("bucket"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Iterator[(Long, Float)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[(Long, Float)] = {
            val bucket = buf.head.bucket
            val rows = new scala.collection.mutable.ArrayBuffer[BucketRow]()
            while (buf.hasNext && buf.head.bucket == bucket)
              rows += buf.next()
            val tombLocal = rows.iterator.filter(_.block.isEmpty)
              .map(r => r.tombDoc -> r.tombSeq).toMap
            val blks = rows.iterator.filter(_.block.isDefined)
              .map(r => (r.seq, r.block.get))
            wandBucket(blks, bInfo.value, avgdl, m, kk, p, tombLocal)
          }
        }.flatten
      }
    partials.toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
      .as[(Long, Float)]
      .collect()
  }

  /** Top-k as driver rows, sorted (score desc, docId asc), length ≤ k —
    * the serving path ([[Search.searchTop]]) consumes this directly so the
    * warm driver-local path runs with ZERO Spark jobs (hot-term block cache
    * in [[IndexHandles.candidateBlocks]]).
    */
  def topKArray(
      spark: SparkSession,
      h: IndexHandles,
      qp: Search.QueryPlan,
      method: Search.Method,
      k: Int,
      params: Scoring.Params = Scoring.Params()): Array[(Long, Float)] = {
    if (qp.terms.isEmpty || (method == Search.Bm25 && qp.avgdl == 0.0f))
      return Array.empty

    val termInfo: Map[Long, (Float, Float)] =
      qp.terms.map(t => t.termId -> (t.weight, t.idf)).toMap
    val avgdl = qp.avgdl
    val m = method
    val kk = k
    val p = params
    val tomb = h.tombMap

    // driver-local fast path: when the candidate volume is small (Σ df ≤
    // graft.maxLocalWandPostings), run ONE WAND over all buckets on the
    // driver — at most one Spark job (the pruned block fetch, skipped on
    // block-cache hits), no shuffle. Block-range disjointness holds
    // index-wide per (term, layer), so a global run is exactly a
    // one-bucket run. NOT taken under tombstone overflow: h.tombMap is
    // then deliberately empty (collecting it would be the driver-memory
    // scale-killer), so local liveness filtering would be wrong — the
    // distributed path below co-partitions the full tombstone frame with
    // the blocks instead.
    val maxLocal = spark.conf
      .getOption("graft.maxLocalWandPostings").map(_.toLong)
      .getOrElse(4000000L)
    val candVolume = qp.terms.map(_.df).sum
    if (candVolume <= maxLocal && !h.tombOverflow) {
      return wandBucket(
        h.candidateBlocks(qp.terms.map(_.termId)).iterator,
        termInfo, avgdl, m, kk, p, tomb)
        .toArray
        .sortBy(t => (-t._2, t._1))
        .take(k)
    }

    import spark.implicits._
    if (h.tombOverflow)
      return topKTombDistributed(spark, h, qp, method, k, params, termInfo)

    val blocks = h.layeredBlocks(Some(qp.terms.map(_.termId)))
    val bInfo = spark.sparkContext.broadcast(termInfo)
    // handle-scoped: the tombstone map is immutable per index version, so
    // re-broadcasting it per query would re-serialize up to ~120 MB each time
    val bTomb = h.bTombMap
    val partials =
      if (qp.terms.size == 1 && tomb.isEmpty)
        // single term, no layers to align: every docId lives in exactly one
        // block and all blocks belong to the one cursor — per-PARTITION
        // top-k needs no bucket co-location, so skip the shuffle entirely
        blocks.mapPartitions { it =>
          wandBucket(it, bInfo.value, avgdl, m, kk, p, bTomb.value)
        }
      else {
        // co-locate buckets with a repartition sized to the job, not to
        // spark.sql.shuffle.partitions: a query touches ≤ queryBuckets
        // buckets, and more reducers than cores just buys scheduler rounds
        val parts = math.max(1, math.min(
          h.meta.get("queryBuckets").map(_.toInt).getOrElse(64),
          spark.sparkContext.defaultParallelism))
        blocks
          .repartition(parts, col("_2.bucket"))
          .mapPartitions { it =>
            // several buckets land in one partition: group in memory, run
            // WAND per bucket (same rows groupByKey would have brought
            // here, minus the generic aggregator machinery)
            val byBucket = it.toArray.groupBy(_._2.bucket)
            byBucket.valuesIterator.flatMap(bs =>
              wandBucket(bs.iterator, bInfo.value, avgdl, m, kk, p,
                bTomb.value))
          }
      }

    partials
      .toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
      .as[(Long, Float)]
      .collect()
  }

  /** Distributed top-k as a DataFrame (docId, score) — [[topKArray]]
    * wrapped for DataFrame consumers.
    */
  def topK(
      spark: SparkSession,
      h: IndexHandles,
      qp: Search.QueryPlan,
      method: Search.Method,
      k: Int,
      params: Scoring.Params = Scoring.Params()): DataFrame = {
    import spark.implicits._
    spark.createDataset(topKArray(spark, h, qp, method, k, params).toSeq)
      .toDF("docId", "score")
  }
}
