package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * ARRAY<FLOAT>, label): brute-force cosine top-k as the exactness
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale
  * path (shuffle ∝ candidates, not corpus).
  */
object Ann {

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** dot(a, b): native codegen'd expression ([[graft.functions.VecMath]])
    * — same sequential-fold values and null semantics as the
    * zip_with+aggregate composition it replaced (property-tested), minus
    * the per-element lambda evaluation and intermediate product array.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecMath.vecDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Scores `rows` against a driver-held query vector embedded as an
    * ARRAY<FLOAT> literal and takes the cosine top-k. The literal replaces
    * the r5 `crossJoin(broadcast(1-row frame))`: same expressions, same
    * sequential-fold dot values (norm(q) is still the in-plan FloatVecDot
    * over the same floats), but the scan → score → TakeOrdered chain is
    * one codegen stage with no BroadcastExchange / nested-loop join node.
    */
  private def topKAgainst(
      rows: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    val qv = typedlit(queryVec.toSeq)
    rows
      .withColumn("cos",
        dot(col("embedding"), qv) / (norm(col("embedding")) * norm(qv)))
      .select(col("vec_id"), round(col("cos"), 3).as("cos"), col("cos").as("c0"))
      .orderBy(col("c0").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "cos")
  }

  private def noHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double)].toDF("vec_id", "cos")
  }

  /** The query vector of `queryVecId` (pushed-down vec_id filter); None for
    * a missing id or null embedding — every ANN entry point then answers
    * with an empty frame, not a throw.
    */
  private def queryVector(
      spark: SparkSession, sfDir: String, queryVecId: Long)
      : Option[Array[Float]] = {
    import spark.implicits._
    emb(spark, sfDir).filter(col("vec_id") === queryVecId)
      .select(col("embedding")).as[Array[Float]]
      .collect().headOption.filter(_ != null)
  }

  /** Exact cosine top-k neighbors of `queryVecId` (brute force: one scan,
    * one narrow top-k — the correct baseline and the fallback path). The
    * query vector is fetched once and scored as a literal — see
    * [[topKAgainst]].
    */
  def bruteTopK(
      spark: SparkSession,
      sfDir: String,
      queryVecId: Long = 0L,
      k: Int = 10): DataFrame =
    queryVector(spark, sfDir, queryVecId).fold(noHits(spark))(qv =>
      topKAgainst(
        emb(spark, sfDir).filter(col("vec_id") =!= queryVecId), qv, k))

  def bruteTopKSql(queryVecId: Long = 0L, k: Int = 10): String =
    s"""SELECT e.vec_id,
       |  round(list_cosine_similarity(e.embedding, q.embedding)::DOUBLE, 3) AS cos
       |FROM embeddings e, (SELECT embedding FROM embeddings
       |                    WHERE vec_id = $queryVecId) q
       |WHERE e.vec_id <> $queryVecId
       |ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
       |         e.vec_id ASC
       |LIMIT $k""".stripMargin

  /** Deterministic random hyperplanes (seeded splitmix64), dim × planes. */
  private def hyperplanes(dim: Int, planes: Int, seed: Long)
      : Array[Array[Double]] = {
    val rng = new graft.corpus.Synth.Rng(seed)
    Array.fill(planes, dim) {
      // Box-Muller-free symmetric: uniform in [-1, 1) is fine for LSH signs
      (rng.nextLong() >>> 11) * (2.0 / (1L << 53)) - 1.0
    }
  }

  /** Signature = sign bits against `planes` hyperplanes → LongType. */
  def signatures(
      spark: SparkSession,
      sfDir: String,
      planes: Int = 12,
      seed: Long = 42L): DataFrame =
    // exactly the tables = 1 slice of tableSignatures (table 0 uses
    // hyperplanes(dim, planes, seed + 0)) — one sign-bit loop to maintain
    tableSignatures(spark, sfDir, planes, tables = 1, seed)
      .select(col("vec_id"), col("sig"))

  /** LSH-bucketed ANN: candidates share the query's signature in ≥1 of
    * `tables` independent hash tables; exact cosine re-ranks candidates.
    * Recall < 1 by construction; at scale the scan touches only matching
    * buckets (signature is a join key → shuffle ∝ bucket sizes).
    */
  /** All tables' signatures in ONE scan: (vec_id, tbl, sig). */
  def tableSignatures(
      spark: SparkSession,
      sfDir: String,
      planes: Int,
      tables: Int,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    // derive from the data, never hardcode: hyperplanes shorter than the
    // vectors would silently hash only the first components (the dot loop
    // runs over min(lengths)) and recall would degrade with no error.
    // Guarded: an empty table (or one whose sampled rows are null/empty
    // vectors) yields an empty signatures frame, not a crash
    val dim = emb(spark, sfDir)
      .select(size(col("embedding")).as("d"))
      .filter(col("d") > 0).limit(1)
      .as[Int].collect().headOption.getOrElse(0)
    if (dim == 0)
      return spark.emptyDataset[(Long, Int, Long)]
        .toDF("vec_id", "tbl", "sig")
    val hp = (0 until tables).map(t =>
      hyperplanes(dim, planes, seed + t)).toArray
    // r6: per-table signatures as codegen'd [[graft.functions.HyperplaneSig]]
    // columns (each table's plane matrix flattened row-major into its
    // expression), posexploded to the (vec_id, tbl, sig) row shape. This
    // replaces the per-row flatMap closure + hyperplane broadcast — the
    // tables × planes dot products per vector (LSH's bucketing hot loop
    // at scale) now run inside whole-stage codegen with no Dataset
    // (de)serialization. Signatures are bit-identical (same p-ascending,
    // i-ascending double fold over the float vector — spec'd against the
    // replaced closure), so every downstream bucket/candidate/pair is
    // unchanged.
    val sigCols = hp.map(mat =>
      graft.functions.HyperplaneSig.hyperplaneSig(
        col("embedding"), mat.flatten, dim))
    emb(spark, sfDir)
      .select(col("vec_id"), posexplode(array(sigCols: _*)))
      .toDF("vec_id", "tbl", "sig")
  }

  def lshTopK(
      spark: SparkSession,
      sfDir: String,
      queryVecId: Long = 0L,
      k: Int = 10,
      planes: Int = 8,
      tables: Int = 8): DataFrame = {
    // the signature scan (tables × planes dot products per vector) feeds
    // qSig AND the candidate join — and is query-independent, so memoize
    // it per (input, params) like cosineNearDupPairs' signatures: repeat
    // queries skip the scan entirely (the per-call HyperplaneSig
    // expressions hold fresh plane arrays — reference equality — so
    // canonicalized-plan cache matching alone would never re-attach)
    val sigs = LiveResultCache.getOrCompute("lshTopKSigs",
      s"$sfDir|${LiveResultCache.fingerprint(spark,
        s"$sfDir/embeddings.parquet")}|$planes|$tables") {
      (tableSignatures(spark, sfDir, planes, tables), Nil)
    }
    // candidates: bucket-mates of the query in ANY table, via the r5
    // broadcast join against the query's own (tbl, sig) rows — but
    // attached with a LEFT SEMI join, whose build side dedups the
    // multi-table matches for free: the r5 DISTINCT exchange is gone.
    // Scoring keeps the broadcast 1-row query frame (a literal query
    // vector would need a BLOCKING driver collect first — A/B'd at
    // +0.08 s; the broadcast build overlaps the main job instead).
    val qSig = sigs.filter(col("vec_id") === queryVecId)
      .select(col("tbl").as("qtbl"), col("sig").as("qsig"))
    val cands = sigs.join(broadcast(qSig),
        col("tbl") === col("qtbl") && col("sig") === col("qsig"))
      .filter(col("vec_id") =!= queryVecId)
      .select("vec_id")
    val e = emb(spark, sfDir)
    val q = e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    e.join(cands, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("cos",
        dot(col("embedding"), col("qv")) /
          (norm(col("embedding")) * norm(col("qv"))))
      .select(col("vec_id"), round(col("cos"), 3).as("cos"),
        col("cos").as("c0"))
      .orderBy(col("c0").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "cos")
  }

  // ---- IVF-flat -----------------------------------------------------------

  private def unitD(v: Array[Float]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    if (n > 0) { i = 0; while (i < v.length) { out(i) = v(i) / n; i += 1 } }
    out
  }

  private def argmaxDot(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var s = 0.0
      var i = 0
      val n = math.min(ct.length, v.length)
      while (i < n) { s += ct(i) * v(i); i += 1 }
      if (s > bestDot) { bestDot = s; best = c } // ties → lowest cell id
      c += 1
    }
    best
  }

  /** Deterministic spherical k-means coarse quantizer: stride-sampled
    * init (every ⌊N/nlist⌋-th vec_id — no RNG, same clusters on every
    * train), `iters` Lloyd rounds of assign (argmax dot on unit vectors)
    * + per-cell mean. Each round is ONE narrow pass emitting nlist
    * partial (sum, count) rows per partition — the collect is
    * O(partitions × nlist), never O(N). Empty cells keep their previous
    * centroid. Deterministic for a FIXED input partitioning (partials
    * merge on the driver in (partition, cell) order); across different
    * partition counts the float-addition order changes, so centroids can
    * drift at the ulp level and knife-edge vectors may switch cells —
    * unlike the index build, bit-identity across core counts is not a
    * contract here (recall, not ranking, is the IVF contract).
    */
  def trainIvfCentroids(
      spark: SparkSession,
      sfDir: String,
      nlist: Int,
      iters: Int = 5): Array[Array[Double]] = {
    import spark.implicits._
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val n = e.count()
    val stride = math.max(1L, n / math.max(1, nlist))
    var cents: Array[Array[Double]] = e
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id")
      .limit(nlist)
      .collect()
      .map(r => unitD(r._2))
    if (cents.isEmpty) // sparse ids with no stride multiples: first nlist
      cents = e.orderBy("vec_id").limit(nlist).collect().map(r => unitD(r._2))
    if (cents.isEmpty) return cents // empty table: nothing to train
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials: Array[(Int, Array[Double], Long)] = e
        .mapPartitions { rows =>
          val cs = bc.value
          val sums = Array.ofDim[Double](cs.length, cs(0).length)
          val cnts = new Array[Long](cs.length)
          rows.foreach { case (_, vRaw) =>
            val v = unitD(vRaw)
            val cell = argmaxDot(v, cs)
            val s = sums(cell)
            var i = 0
            val d = math.min(s.length, v.length)
            while (i < d) { s(i) += v(i); i += 1 }
            cnts(cell) += 1
          }
          cnts.indices.iterator.filter(cnts(_) > 0)
            .map(c => (c, sums(c), cnts(c)))
        }
        .collect()
      val merged = cents.map(_.clone())
      val counts = new Array[Long](cents.length)
      partials.foreach { case (c, s, cnt) =>
        if (counts(c) == 0L) java.util.Arrays.fill(merged(c), 0.0)
        var i = 0
        while (i < s.length) { merged(c)(i) += s(i); i += 1 }
        counts(c) += cnt
      }
      cents = merged.zipWithIndex.map { case (s, c) =>
        if (counts(c) == 0L) cents(c) // empty cell keeps its centroid
        else {
          var sq = 0.0
          var i = 0
          while (i < s.length) { sq += s(i) * s(i); i += 1 }
          val norm = math.sqrt(sq)
          if (norm > 0) s.map(_ / norm) else cents(c)
        }
      }
      bc.destroy()
      it += 1
    }
    cents
  }

  /** Trains the coarse quantizer and PERSISTS the IVF index as a
    * [[DerivedIndex]] of `embeddings.parquet` — the on-disk layout is the
    * scale contract, not a cache:
    *
    *   - `cells/cell=<c>/` parquet  (vec_id, embedding), written
    *     `partitionBy("cell")` so each cell is its own partition
    *     directory — a query's `cell IN (probes)` filter becomes Catalyst
    *     PARTITION PRUNING and the scan touches nprobe/nlist of the
    *     corpus files (the inverted-file layout of Jégou et al.'s IVF,
    *     with partition dirs as the inverted lists; ExplainAudit asserts
    *     the PartitionFilters). The write is range-partitioned on
    *     (cell, vec_id) first, so at scale every output file covers one
    *     cell (≈1 file per task, big cells split across several files)
    *     instead of every task writing a sliver of every cell.
    *   - `centroids/` (cell, centroid ARRAY<DOUBLE>) — nlist rows, KBs;
    *     queries reload these instead of retraining.
    *
    * Returns the index dir; a second call on an unchanged source is a
    * pure FS-metadata check (no Spark job, no retrain).
    */
  def ensureIvfIndex(
      spark: SparkSession,
      sfDir: String,
      nlist: Int = 16,
      iters: Int = 5): String =
    DerivedIndex.ensure(spark, "ivf", s"$sfDir/embeddings.parquet",
      s"nlist=$nlist;iters=$iters") { dir =>
      import spark.implicits._
      val cents = trainIvfCentroids(spark, sfDir, nlist, iters)
      val bc = spark.sparkContext.broadcast(cents)
      val parts = cellWriteParts(spark, sfDir)
      emb(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (id, argmaxDot(unitD(v), bc.value), v) }
        .toDF("vec_id", "cell", "embedding")
        .repartitionByRange(parts, col("cell"), col("vec_id"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/cells")
      bc.destroy() // consumed by the write action above; don't leak per rebuild
      writeCentroids(spark, dir, cents)
    }

  /** `centroids/` (cell, centroid) of an IVF or IVF-PQ index: one file. */
  private def writeCentroids(
      spark: SparkSession, dir: String, cents: Array[Array[Double]]): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** The top-`nprobe` cells of unit query `q`: highest centroid dot
    * first, ties to the lower cell id.
    */
  private def probeCells(
      cents: Array[Array[Double]], q: Array[Double], nprobe: Int): Seq[Int] =
    cents.indices
      .map(c => c -> {
        var s = 0.0
        var i = 0
        val d = math.min(cents(c).length, q.length)
        while (i < d) { s += cents(c)(i) * q(i); i += 1 }
        s
      })
      .sortBy { case (c, s) => (-s, c) }
      .take(math.max(1, nprobe))
      .map(_._1)

  /** Write-side partition count for the cells table, derived from the
    * table's row count (guide §6 "aim for output files in the 128 MB-1 GB
    * range", adapted to rows): a tiny corpus gets a handful of files
    * instead of defaultParallelism slivers — every query lists/opens the
    * cells files, so small-file bloat is pure per-query overhead — while
    * anything ≥ ~50k rows/core keeps the full write parallelism exactly
    * as before (the range partitioner still splits big cells across
    * files). The count is a parquet-metadata job, not a data pass.
    */
  private def cellWriteParts(spark: SparkSession, sfDir: String): Int = {
    val n = emb(spark, sfDir).count()
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      math.ceil(n / 50000.0).toInt))
  }

  /** Centroids reloaded from a persisted index (cell-ordered). */
  def loadIvfCentroids(
      spark: SparkSession, ivfDir: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(s"$ivfDir/centroids")
      .orderBy("cell").select("centroid").as[Seq[Double]]
      .collect().map(_.toArray)
  }

  /** (vec_id, cell, embedding) view of the persisted index (builds it on
    * first use). Full-scan shape — for inspection/tests; queries go
    * through [[ivfQuery]]'s pruned path.
    */
  def ivfCells(
      spark: SparkSession,
      sfDir: String,
      nlist: Int = 16,
      iters: Int = 5): DataFrame = {
    val dir = ensureIvfIndex(spark, sfDir, nlist, iters)
    spark.read.parquet(s"$dir/cells").select("vec_id", "cell", "embedding")
  }

  /** Query a persisted IVF index WITHOUT retraining: centroids come from
    * the index's own `centroids/` table ([[DerivedIndex.load]]'s memo, so
    * a rebuilt index re-reads), and the cells scan carries a
    * `cell IN (probes)` partition filter — only the probed partition
    * directories are listed and read. Recall < 1 for nprobe < nlist (the
    * standard IVF trade); nprobe = nlist degenerates to exact brute force
    * (spec-gated ≡ [[bruteTopK]] — the re-rank reuses its exact cosine
    * expressions, so scores are identical, not merely close).
    */
  def ivfQuery(
      spark: SparkSession,
      ivfDir: String,
      queryVec: Array[Float],
      k: Int = 10,
      nprobe: Int = 4,
      excludeVecId: Long = -1L): DataFrame = {
    val cents = DerivedIndex.load(spark, ivfDir, "IVF")(
      loadIvfCentroids(spark, ivfDir))
    if (cents.isEmpty || queryVec.isEmpty) return noHits(spark)
    val probes = probeCells(cents, unitD(queryVec), nprobe)
    topKAgainst(
      spark.read.parquet(s"$ivfDir/cells")
        .filter(col("cell").isin(probes: _*))
        .filter(col("vec_id") =!= excludeVecId),
      queryVec, k)
  }

  /** IVF-flat ANN top-k over the source table: ensures the persisted
    * index, looks the query vector up from the source, and runs
    * [[ivfQuery]]'s pruned scan. A missing query id yields an empty frame,
    * not a throw (same contract as [[bruteTopK]]/[[lshTopK]]).
    */
  def ivfTopK(
      spark: SparkSession,
      sfDir: String,
      queryVecId: Long = 0L,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 5): DataFrame = {
    val ivfDir = ensureIvfIndex(spark, sfDir, nlist, iters)
    queryVector(spark, sfDir, queryVecId).fold(noHits(spark))(v =>
      ivfQuery(spark, ivfDir, v, k, nprobe, excludeVecId = queryVecId))
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH buckets.
    *
    * Scale shape: the bucket count (2^planes per table) must GROW with the
    * corpus, or the bucket self-join degenerates to ~N²/buckets. With
    * `planes ≈ log2(N/8)` the expected bucket width stays ~8 vectors, so
    * per-table join cost is O(N) at every corpus size; recall lost to
    * narrower buckets is recovered by OR-ing `tables` independent hash
    * tables (candidate = same bucket in ANY table), all computed in one
    * scan. Recall is ~60% for moderately-similar pairs (cos≈0.4, measured
    * at N=500) and →1 for true near-identical vectors, whose plane-
    * agreement probability approaches 1.
    */
  def cosineNearDupPairs(
      spark: SparkSession,
      sfDir: String,
      threshold: Double = 0.35,
      planes: Int = 0, // ≤0 → adaptive: ceil(log2(N/8)), clamped [4, 48]
      tables: Int = 16): DataFrame = LiveResultCache.getOrCompute(
    "cosineNearDup", s"$sfDir|${LiveResultCache.fingerprint(spark,
      s"$sfDir/embeddings.parquet")}|$threshold|$planes|$tables") {
    val nVec = emb(spark, sfDir).count()
    val p =
      if (planes > 0) planes
      else math.min(48, math.max(4,
        math.ceil(math.log(math.max(1.0, nVec / 8.0)) / math.log(2.0)).toInt))
    // the signature scan (tables × p dot products per vector) feeds BOTH
    // sides of the self-join — persist it once; the set lives on as the
    // op's bounded serving cache. The memoized getOrCompute wrapper is
    // load-bearing here: the HyperplaneSig expressions hold fresh plane
    // arrays per call (reference equality), so canonicalized-plan cache
    // matching alone can never re-attach across calls.
    val sigs = tableSignatures(spark, sfDir, p, tables)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sigs.as("a")
    val b = sigs.as("b")
    val cand = a.join(b,
      col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val e = emb(spark, sfDir)
    val pairs = cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")),
        "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
        "id_b")
      .withColumn("cos",
        dot(col("va"), col("vb")) / (norm(col("va")) * norm(col("vb"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
      .orderBy("id_a", "id_b")
    (pairs, Seq(sigs))
  }

  // ===================== IVF-PQ (product quantization) =====================
  //
  // The 100-TB MEMORY layout for the embedding path (Jégou, Douze &
  // Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  // 2011): the coarse quantizer is the same IVF cell structure as
  // [[ensureIvfIndex]], but WITHIN a cell each vector is stored as `m`
  // one-byte codes (one per dimension subspace) instead of `dim` floats —
  // 64-dim float32 = 256 B → m=8 B, 32× — which is what lets a large
  // cluster hold a 10^12-vector index in page cache instead of re-reading
  // full vectors per query. Queries score candidates with the ASYMMETRIC
  // DISTANCE (ADC) lookup table — m table lookups + adds per candidate,
  // no per-dimension float math — then re-rank the top `rerank`
  // candidates EXACTLY against the source table's true vectors.
  //
  // Documented design choices (all public practice):
  //   - codebooks train on a deterministic stride sample (≤4096 vectors),
  //     the standard PQ practice (Faiss trains PQ on a subsample);
  //   - non-residual PQ: codes quantize the unit vector itself, not the
  //     residual to its coarse centroid — simpler, and the exact rerank
  //     absorbs the coarser approximation;
  //   - determinism contract matches IVF-flat: stride init + Lloyd with
  //     index-ordered tie-breaks, same result per (input, params).

  /** Subspace boundaries: m contiguous slices of [0, dim); the last
    * slice absorbs the remainder when m ∤ dim.
    */
  private def subBounds(dim: Int, m: Int): Array[(Int, Int)] = {
    val mm = math.max(1, math.min(m, dim))
    val dsub = dim / mm
    Array.tabulate(mm)(s =>
      (s * dsub, if (s == mm - 1) dim else (s + 1) * dsub))
  }

  /** Driver-side Lloyd k-means (L2), deterministic: stride init over the
    * given sample order, argmin ties to the lower centroid index, empty
    * clusters keep their previous centroid.
    */
  private def kmeansL2(
      xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val kk = math.max(1, math.min(k, xs.length))
    var cents = Array.tabulate(kk)(i =>
      xs((i.toLong * xs.length / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val d = xs(0).length
      val sums = Array.ofDim[Double](kk, d)
      val cnts = new Array[Long](kk)
      xs.foreach { x =>
        val c = argminL2(x, cents)
        val s = sums(c)
        var i = 0
        // clamp per vector: heterogeneous embedding lengths degrade
        // (short vectors contribute their prefix) instead of crashing —
        // matches argminL2 / FloatVecDot / tableSignatures' defensive
        // min-length style
        val lim = math.min(d, x.length)
        while (i < lim) { s(i) += x(i); i += 1 }
        cnts(c) += 1
      }
      cents = Array.tabulate(kk)(c =>
        if (cnts(c) == 0L) cents(c)
        else {
          val s = sums(c)
          val out = new Array[Double](d)
          var i = 0
          while (i < d) { out(i) = s(i) / cnts(c); i += 1 }
          out
        })
      it += 1
    }
    cents
  }

  private def argminL2(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var s = 0.0
      var i = 0
      val n = math.min(ct.length, x.length)
      while (i < n) { val diff = x(i) - ct(i); s += diff * diff; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Per-subspace PQ codebooks (m × ksub × dsub), Lloyd-trained on a
    * deterministic stride sample of the corpus UNIT vectors.
    */
  def trainPqCodebooks(
      spark: SparkSession,
      sfDir: String,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 10): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val e = emb(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val n = e.count()
    val cap = 4096L
    val stride = math.max(1L, n / cap)
    var sample: Array[Array[Double]] = e
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(cap.toInt)
      .collect().map(r => unitD(r._2))
    if (sample.isEmpty)
      sample = e.orderBy("vec_id").limit(cap.toInt).collect()
        .map(r => unitD(r._2))
    if (sample.isEmpty) return Array.empty
    val dim = sample(0).length
    subBounds(dim, m).map { case (lo, hi) =>
      // zero-pad sub-vectors whose source is shorter than the subspace
      // (mixed-length corpus): from is clamped into [0, v.length] and the
      // slice keeps its full dsub width (copyOfRange zero-fills past the
      // end), so a short vector degrades instead of AIOOBE-aborting the
      // codebook build
      val subs = sample.map { v =>
        val from = math.min(lo, v.length)
        java.util.Arrays.copyOfRange(v, from, from + (hi - lo))
      }
      kmeansL2(subs, ksub, iters)
    }
  }

  /** PQ code of one unit vector under `books`: one byte per subspace
    * (argmin-L2 centroid index; ksub ≤ 256 by construction).
    */
  private def encodePq(
      v: Array[Double],
      bounds: Array[(Int, Int)],
      books: Array[Array[Array[Double]]]): Array[Byte] = {
    val code = new Array[Byte](bounds.length)
    var s = 0
    while (s < bounds.length) {
      val (lo, hi) = bounds(s)
      // same clamp+pad as trainPqCodebooks: for vectors of the training
      // dim this is exactly copyOfRange(v, lo, hi); shorter vectors
      // degrade to a zero-padded slice instead of crashing the encode
      val from = math.min(lo, v.length)
      val sub = java.util.Arrays.copyOfRange(v, from, from + (hi - lo))
      code(s) = argminL2(sub, books(s)).toByte
      s += 1
    }
    code
  }

  /** Trains coarse + PQ quantizers and persists the IVF-PQ index as a
    * [[DerivedIndex]] of `embeddings.parquet`:
    *
    *   - `cells/cell=<c>/` parquet (vec_id, code BINARY) written
    *     `partitionBy("cell")` — same partition-pruned inverted-list
    *     layout as [[ensureIvfIndex]], but m bytes per vector instead of
    *     dim floats;
    *   - `centroids/`  coarse (cell, centroid);
    *   - `codebooks/`  (sub, idx, centroid) — m·ksub rows, KBs.
    */
  def ensureIvfPqIndex(
      spark: SparkSession,
      sfDir: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 5): String =
    DerivedIndex.ensure(spark, "ivfpq", s"$sfDir/embeddings.parquet",
      s"pq;nlist=$nlist;m=$m;ksub=$ksub;iters=$iters") { dir =>
      import spark.implicits._
      val cents = trainIvfCentroids(spark, sfDir, nlist, iters)
      val books = trainPqCodebooks(spark, sfDir, m, ksub, iters)
      val bc = spark.sparkContext.broadcast((cents, books))
      val parts = cellWriteParts(spark, sfDir)
      emb(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, vRaw) =>
          val (cs, bk) = bc.value
          val v = unitD(vRaw)
          val bounds = subBounds(v.length, bk.length)
          (id, argmaxDot(v, cs), encodePq(v, bounds, bk))
        }
        .toDF("vec_id", "cell", "code")
        .repartitionByRange(parts, col("cell"), col("vec_id"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/cells")
      bc.destroy() // consumed by the write action above; don't leak per rebuild
      writeCentroids(spark, dir, cents)
      books.zipWithIndex.flatMap { case (bk, s) =>
        bk.zipWithIndex.map { case (ct, j) => (s, j, ct.toSeq) }
      }.toSeq.toDF("sub", "idx", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    }

  /** Coarse centroids + codebooks reloaded from a persisted PQ index. */
  def loadIvfPq(spark: SparkSession, pqDir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val cents = loadIvfCentroids(spark, pqDir)
    val raw = spark.read.parquet(s"$pqDir/codebooks")
      .orderBy("sub", "idx")
      .select("sub", "idx", "centroid").as[(Int, Int, Seq[Double])]
      .collect()
    val books = raw.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray).toArray).toArray
    (cents, books)
  }

  /** ADC query over a persisted IVF-PQ index: probe the top-`nprobe`
    * cells (partition-pruned scan of m-byte codes), score candidates by
    * table lookup (score ≈ Σ_s dot(q_sub, codebook[s][code_s])), keep
    * the top `rerank` by ADC, and re-rank them EXACTLY against the
    * source table's true vectors. `rerank <= 0` skips the ADC cut and
    * re-ranks every probed candidate — with nprobe = nlist that is
    * exact brute force (the degeneracy oracle).
    */
  def ivfPqQuery(
      spark: SparkSession,
      sfDir: String,
      pqDir: String,
      queryVec: Array[Float],
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 64,
      excludeVecId: Long = -1L): DataFrame = {
    import spark.implicits._
    val (cents, books) = DerivedIndex.load(spark, pqDir, "IVF-PQ")(
      loadIvfPq(spark, pqDir))
    if (cents.isEmpty || books.isEmpty || queryVec.isEmpty)
      return noHits(spark)
    val qUnit = unitD(queryVec)
    val probes = probeCells(cents, qUnit, nprobe)
    val cellScan = spark.read.parquet(s"$pqDir/cells")
      .filter(col("cell").isin(probes: _*))
      .filter(col("vec_id") =!= excludeVecId)
    // exact rerank: true vectors fetched by id from the source table.
    // rerank > 0 ⇒ the candidate set is DRIVER-BOUNDED (≤ rerank ids, a
    // top-k collect like every ANN entry point's own result) — push it
    // into the source scan as an In() filter (parquet row-group pruning)
    // instead of shuffling a join; rerank ≤ 0 (exactness gate) re-ranks
    // EVERY probed candidate, so the ADC scores would be dead work — the
    // candidate ids join straight from the (column-pruned: vec_id only,
    // codes never read) cells scan, build side = the probed ids.
    val rerankSrc =
      if (rerank > 0) {
        // ADC lookup table: m × ksub partial dot products of the query,
        // FLATTENED and shipped inside the codegen'd [[AdcScore]]
        // expression — the ADC scan (the hot loop of a PQ query at
        // scale) stays in whole-stage codegen with no per-row closure or
        // Dataset (de)serialization. The per-sub centroid count is
        // uniform by construction (every subspace trains with the same
        // kk = min(ksub, sampleSize)), so one stride addresses the table.
        // Corrupt code bytes (≥ stride) yield NULL and the row is
        // dropped. This deliberately changes the replaced closure, which
        // %-wrapped such a byte into a valid but wrong slot and scored the
        // row; valid codes score exactly as before. `books` is non-empty
        // here: an index trained from an empty embeddings table has no
        // codebooks and returned the empty top-k above.
        val bounds = subBounds(qUnit.length, books.length)
        val stride = books(0).length
        val flat = new Array[Double](books.length * stride)
        bounds.zipWithIndex.foreach { case ((lo, hi), s) =>
          var j = 0
          while (j < books(s).length && j < stride) {
            val ct = books(s)(j)
            var acc = 0.0
            var i = lo
            while (i < hi && i < qUnit.length) {
              acc += qUnit(i) * ct(i - lo); i += 1
            }
            flat(s * stride + j) = acc
            j += 1
          }
        }
        val adc = cellScan
          .select(col("vec_id"),
            graft.functions.AdcScore.adcScore(col("code"), flat, stride)
              .as("adc"))
          .filter(col("adc").isNotNull)
        val ids = adc.orderBy(col("adc").desc, col("vec_id").asc)
          .limit(rerank)
          .select("vec_id").as[Long].collect()
        emb(spark, sfDir).filter(col("vec_id").isin(ids: _*))
      } else
        emb(spark, sfDir).join(cellScan.select("vec_id"), Seq("vec_id"))
    topKAgainst(rerankSrc, queryVec, k)
  }

  /** IVF-PQ ANN top-k over the source table (ensure index → look up the
    * query vector → ADC + exact rerank). Same empty-on-missing-id
    * contract as the other ANN entry points.
    */
  def ivfPqTopK(
      spark: SparkSession,
      sfDir: String,
      queryVecId: Long = 0L,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      rerank: Int = 64,
      iters: Int = 5): DataFrame = {
    val pqDir = ensureIvfPqIndex(spark, sfDir, nlist, m, ksub, iters)
    queryVector(spark, sfDir, queryVecId).fold(noHits(spark))(v =>
      ivfPqQuery(spark, sfDir, pqDir, v, k, nprobe, rerank,
        excludeVecId = queryVecId))
  }
}
