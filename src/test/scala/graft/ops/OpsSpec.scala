package graft.ops

import org.apache.spark.sql.functions.{length, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Correctness tests for the training-data pipeline operators, over a
  * constructed corpus with KNOWN duplicates/clusters (the driver testdata
  * has none), written in the same documents/embeddings parquet shape.
  */
class OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** dir with documents.parquet + embeddings.parquet fixtures. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ops_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      // 0/1: exact duplicates; 2: near-dup of 0 (one word changed)
      (0L, base, "en", "s", base.length.toLong),
      (1L, base, "en", "s", base.length.toLong),
      (2L, base.replace("kappa", "kppa"), "en", "s", base.length.toLong),
      // 3: unrelated
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen", "en", "s", 50L),
      // 4: near-dup of 3 (two words changed)
      (4L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen quince sixteen", "en", "s", 50L),
      // 5-7: language-id fixtures
      (5L, "the cat and the dog went to the market for the fish", "en",
        "s", 40L),
      (6L, "der hund und die katze sind mit der maus nicht da", "de",
        "s", 40L),
      (7L, "数据 处理 系统 非常 好 我们 喜欢 它 真的 很 好", "zh", "s", 30L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val c1 = unit(Array.fill(64)(rnd.nextFloat() - 0.5f))
    val c2 = unit(Array.fill(64)(rnd.nextFloat() - 0.5f))
    def near(c: Array[Float], eps: Float): Array[Float] =
      unit(c.map(x => x + eps * (rnd.nextFloat() - 0.5f)))
    val vecs = Seq(
      (0L, c1, 0), (1L, near(c1, 0.05f), 0), (2L, near(c1, 0.1f), 0),
      (3L, c2, 1), (4L, near(c2, 0.05f), 1),
      (5L, unit(Array.fill(64)(rnd.nextFloat() - 0.5f)), 2))
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(spark, dir)
      .select($"doc_id", $"n").as[(Long, Long)].collect().toMap
    assert(r(0L) == 2L) // docs 0 and 1, representative = min id
    assert(!r.contains(1L))
    assert(r(2L) == 1L)
  }

  test("minhash estimate tracks true jaccard for near-dups") {
    val pairs = Dedup.minhashPairs(spark, dir, threshold = 0.5)
      .select($"id_a", $"id_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((0L, 1L)) && m((0L, 1L)) == 1.0) // identical
    // 0 vs 2: 3-shingle jaccard of one-word-changed 20-token docs ≈ 0.7
    assert(m.contains((0L, 2L)))
    assert(m((0L, 2L)) > 0.4 && m((0L, 2L)) < 1.0)
    assert(!m.contains((0L, 3L)) && !m.contains((3L, 5L)))
  }

  test("simhash: identical docs at distance 0, near-dups small distance") {
    val sigs = Dedup.simhash(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    val d02 = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    val d03 = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(d02 < d03, s"near-dup hamming $d02 should be < unrelated $d03")
    val pairs = Dedup.simhashPairs(spark, dir, maxDist = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("token-set jaccard matches hand computation") {
    val r = Dedup.ngramJaccard(spark, dir, maxDocId = 8, threshold = 0.1)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(r((0L, 1L)) == 1.0)
    // docs 3,4: 16 distinct words each, one differs → inter 15, union 17
    assert(math.abs(r((3L, 4L)) - 15.0 / 17.0) < 0.001)
  }

  test("ann brute top-k: nearest neighbors of c1 are its cluster") {
    val r = Ann.bruteTopK(spark, dir, queryVecId = 0L, k = 3)
      .select($"vec_id").as[Long].collect().toVector
    assert(r.take(2).toSet == Set(1L, 2L))
  }

  test("ann lsh: candidates are real, near-identical vector found") {
    val r = Ann.lshTopK(spark, dir, queryVecId = 0L, k = 3,
      planes = 6, tables = 8)
      .select($"vec_id").as[Long].collect().toVector
    assert(r.nonEmpty)
    assert(r.contains(1L)) // eps=0.05 twin shares buckets w.h.p.
  }

  test("ann ivf: nprobe = nlist degenerates to exact brute force") {
    val brute = Ann.bruteTopK(spark, dir, queryVecId = 0L, k = 5)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    val ivf = Ann.ivfTopK(spark, dir, queryVecId = 0L, k = 5,
      nlist = 3, nprobe = 3, iters = 3)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    assert(ivf == brute) // identical rows AND scores, not merely close
  }

  test("ann ivf: planted cluster found with a single probe; cells " +
      "partition the corpus; training is deterministic") {
    // vec 0's cluster (1, 2) shares its cell: one probe must find them
    val r = Ann.ivfTopK(spark, dir, queryVecId = 0L, k = 3,
      nlist = 3, nprobe = 1, iters = 3)
      .select($"vec_id").as[Long].collect().toVector
    assert(r.take(2).toSet == Set(1L, 2L), s"got $r")
    val cells = Ann.ivfCells(spark, dir, nlist = 3, iters = 3)
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    assert(cells.map(_._1).sorted.toVector == (0L to 5L).toVector,
      "every vector in exactly one cell")
    assert(cells.toMap.apply(0L) == cells.toMap.apply(1L))
    val c1 = Ann.trainIvfCentroids(spark, dir, nlist = 3, iters = 3)
    val c2 = Ann.trainIvfCentroids(spark, dir, nlist = 3, iters = 3)
    assert(c1.length == 3 &&
      c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("ann ivf: persisted index round-trips — train → write → reload → " +
      "query with NO retraining, results and layout identical") {
    val ivfDir = Ann.ensureIvfIndex(spark, dir, nlist = 3, iters = 3)
    // centroids round-trip exactly (doubles written/reread bit-identical)
    val trained = Ann.trainIvfCentroids(spark, dir, nlist = 3, iters = 3)
    val loaded = Ann.loadIvfCentroids(spark, ivfDir)
    assert(loaded.length == trained.length &&
      loaded.zip(trained).forall { case (a, b) => a.sameElements(b) })
    // the cells layout is partitionBy("cell"): one dir per non-empty cell
    val cellDirs = new java.io.File(s"$ivfDir/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted.toVector
    assert(cellDirs.nonEmpty, "no cell= partition dirs written")
    // query path reads ONLY the index (no source table, no memo, no
    // retrain): results must equal the source-side ivfTopK
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    val fromIndex = Ann.ivfQuery(spark, ivfDir, qv, k = 3, nprobe = 1,
      excludeVecId = 0L)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    val fromSource = Ann.ivfTopK(spark, dir, queryVecId = 0L, k = 3,
      nlist = 3, nprobe = 1, iters = 3)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    assert(fromIndex == fromSource && fromIndex.nonEmpty)
    // and the pruned scan carries a cell partition filter
    val plan = Ann.ivfQuery(spark, ivfDir, qv, k = 3, nprobe = 1,
      excludeVecId = 0L).queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(plan).isDefined,
      s"no cell partition filter in:\n$plan")
  }

  test("ann ivf-pq: nprobe = nlist with full rerank degenerates to " +
      "exact brute force; codes are m bytes, not dim floats") {
    val brute = Ann.bruteTopK(spark, dir, queryVecId = 0L, k = 5)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    val pq = Ann.ivfPqTopK(spark, dir, queryVecId = 0L, k = 5,
      nlist = 3, nprobe = 3, m = 8, ksub = 4, rerank = 0, iters = 3)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toVector
    assert(pq == brute) // identical rows AND scores via the exact rerank
    val pqDir = Ann.ensureIvfPqIndex(spark, dir, nlist = 3, m = 8,
      ksub = 4, iters = 3)
    val codes = spark.read.parquet(s"$pqDir/cells")
      .select($"code").as[Array[Byte]].collect()
    assert(codes.nonEmpty && codes.forall(_.length == 8),
      "each vector stored as m=8 one-byte codes")
  }

  test("ann ivf-pq: planted twins found by ADC + small rerank at one " +
      "probe; codebook training is deterministic") {
    val r = Ann.ivfPqTopK(spark, dir, queryVecId = 0L, k = 3,
      nlist = 3, nprobe = 1, m = 8, ksub = 4, rerank = 3, iters = 3)
      .select($"vec_id").as[Long].collect().toVector
    assert(r.take(2).toSet == Set(1L, 2L), s"got $r")
    val b1 = Ann.trainPqCodebooks(spark, dir, m = 8, ksub = 4, iters = 5)
    val b2 = Ann.trainPqCodebooks(spark, dir, m = 8, ksub = 4, iters = 5)
    assert(b1.length == b2.length && b1.zip(b2).forall { case (x, y) =>
      x.length == y.length &&
        x.zip(y).forall { case (a, b) => a.sameElements(b) }
    })
  }

  test("ann ivf-pq: persisted index round-trips (codebooks reload " +
      "bit-identical) and the probed ADC scan is partition-pruned") {
    val pqDir = Ann.ensureIvfPqIndex(spark, dir, nlist = 3, m = 8,
      ksub = 4, iters = 3)
    val (cents, books) = Ann.loadIvfPq(spark, pqDir)
    assert(cents.length == 3 && books.length == 8)
    val trained = Ann.trainPqCodebooks(spark, dir, m = 8, ksub = 4,
      iters = 3)
    assert(books.zip(trained).forall { case (x, y) =>
      x.length == y.length &&
        x.zip(y).forall { case (a, b) => a.sameElements(b) }
    }, "reloaded codebooks differ from a deterministic retrain")
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    // rerank <= 0 keeps the ADC cells scan in the returned plan (the
    // rerank > 0 path collects the bounded candidate ids eagerly and
    // pushes them into the source scan, so its final frame shows only
    // the rerank side); pruning itself is applied in both modes
    val plan = Ann.ivfPqQuery(spark, dir, pqDir, qv, k = 3, nprobe = 1,
      rerank = 0, excludeVecId = 0L)
      .queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(plan).isDefined,
      s"no cell partition filter in:\n$plan")
  }

  test("embedding cosine near-dup pairs find the planted twins") {
    val pairs = Ann.cosineNearDupPairs(spark, dir, threshold = 0.95)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 <= 2 && p._2 == 3L))
  }

  test("language id: markers + CJK script") {
    val r = TextStats.langId(spark, dir)
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    assert(r(5L) == "en")
    assert(r(6L) == "de")
    assert(r(7L) == "zh")
  }

  test("quality ratios match hand computation") {
    val r = TextStats.quality(spark, dir)
      .filter($"doc_id" === 5L).collect()(0)
    val text = "the cat and the dog went to the market for the fish"
    assert(r.getAs[Int]("n_tokens") == text.split(" ").length)
    // stop list hits: the(×4), and, to, for = 7 of 12
    assert(r.getAs[Double]("stop_ratio") ==
      math.rint(7.0 / 12 * 1000) / 1000)
    assert(r.getAs[Double]("punct_ratio") == 0.0)
  }

  test("token counts: whitespace and BPE-ish regex") {
    val r = TextStats.tokenCounts(spark, dir)
      .filter($"doc_id" === 5L).collect()(0)
    assert(r.getAs[Int]("ws_tokens") == 12)
    assert(r.getAs[Int]("bpe_tokens") == 12) // pure letter runs
  }

  test("fingerprints: deterministic, equal for equal docs") {
    val r = TextStats.fingerprints(spark, dir)
      .select($"doc_id", $"k_rank", $"hash").as[(Long, Int, Long)]
      .collect().groupBy(_._1)
      .view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(r(0L) == r(1L))
    assert(r(0L) != r(3L))
    assert(r(0L).size == 4)
  }

  test("multimodal: real PNG decode via ImageIO (dims, channels, aHash)") {
    // 16×16 PNG, left half black, right half white
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    assert(Multimodal.looksLikeImage(bytes))
    val m = Multimodal.decodeImage(7L, bytes)
    assert(m.width == 16 && m.height == 16 && m.channels == 3)
    assert(m.meanLuma == 127.5) // half 0-luma, half 255-luma samples
    // aHash: the 4 right-hand sample columns of each row are bright →
    // bits (row*8 + col) for col in 4..7 set
    val expected = (0 until 8).flatMap(r => (4 until 8).map(c => r * 8 + c))
      .foldLeft(0L)((acc, b) => acc | (1L << b))
    assert(m.phash == expected)
    // corrupt payload falls back to the deterministic stub
    val bad = bytes.take(10)
    assert(Multimodal.decodeImage(7L, bad) ==
      Multimodal.decodeImageStub(7L, bad))
  }

  test("multimodal: schema + determinism + frame sampling shape") {
    // ops return unsorted frames (pipeline contract); compare as sets of
    // row-strings so determinism is judged on content, not partition order
    val m1 = Multimodal.imageMeta(spark, dir).collect().map(_.toString).sorted
    val m2 = Multimodal.imageMeta(spark, dir).collect().map(_.toString).sorted
    assert(m1.sameElements(m2))
    assert(m1.length == 8)
    val frames = Multimodal.frameSample(spark, dir, frameChars = 16,
      stride = 2).filter($"doc_id" === 0L).count()
    val payload = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nFrames = (payload.length + 15) / 16
    val expect = ((nFrames + 1) / 2).toLong // frame indices 0,2,4,…
    assert(frames == expect)
    // per-frame md5 is over the frame's own chars: equal docs agree,
    // different docs' first frames differ
    val md5s = Multimodal.frameSample(spark, dir, frameChars = 16,
      stride = 2).filter($"frame_idx" === 0L)
      .select($"doc_id", $"frame_md5").as[(Long, String)].collect().toMap
    assert(md5s(0L) == md5s(1L))
    assert(md5s(0L) != md5s(3L))
  }

  test("multimodal driver-shaped mixed path: doc_id % 10 == 0 rows are " +
      "REAL ImageIO-decoded PNGs, the rest take the stub branch") {
    val rows = Multimodal.imageMeta(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Int]("channels"))).toMap
    // doc 0 carries synthPng(0): dims derive from docId, decoded for real
    val (png0, w0, h0) = Multimodal.synthPng(0L)
    assert(Multimodal.looksLikeImage(png0))
    assert(rows(0L) == ((w0, h0, 3)))
    // a non-stratum doc goes through the stub on its text bytes
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val stub1 = Multimodal.decodeImageStub(1L,
      base.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(rows(1L) == ((stub1.width, stub1.height, stub1.channels)))
    // synthPng is deterministic (same bytes, same decode) across calls
    assert(Multimodal.synthPng(30L)._1.sameElements(
      Multimodal.synthPng(30L)._1))
  }

  private def writeDocs(d: String, texts: Seq[(Long, String)]): Unit =
    texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")

  test("LiveResultCache keys on content: a rewritten input at the SAME " +
      "path misses the memo and recomputes") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_cachefp_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // two exact dup groups → simhash finds the (0,1) pair
    writeDocs(d, Seq(0L -> base, 1L -> base,
      2L -> "one two three four five six seven eight nine ten"))
    val first = Dedup.simhashPairs(spark, d)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(first == Set((0L, 1L)))
    // rewrite the SAME path: doc 1 no longer duplicates doc 0, doc 2 does
    writeDocs(d, Seq(0L -> base,
      1L -> "unrelated words here entirely different", 2L -> base))
    val second = Dedup.simhashPairs(spark, d)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // a (path, params)-only key would have served the stale (0,1) result
    assert(second == Set((0L, 2L)))
  }

  private def writeVecs(d: String, vecs: Seq[(Long, Array[Float])]): Unit =
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")

  /** Two planted clusters of 4 around random unit centers (ids id0..+3
    * and id0+4..+7, so the stride init seeds one centroid in each).
    */
  private def clusteredVecs(seed: Int, id0: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val centers = Seq.fill(2)(unit(Array.fill(16)(rnd.nextFloat() - 0.5f)))
    (0 until 8).map { i =>
      id0 + i -> unit(centers(i / 4).map(x => x + 0.1f * (rnd.nextFloat() - 0.5f)))
    }
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Vector[(Long, Double)] =
    df.select($"vec_id", $"cos").as[(Long, Double)].collect().toVector

  test("FT index over a documents table rewritten at the SAME path is " +
      "rebuilt from scratch, and search answers from the new documents") {
    import graft.query.Search
    val d = java.nio.file.Files.createTempDirectory("graft_ftdrift_").toString
    def urls(idx: String, q: String): Set[String] =
      Search.searchTop(spark, idx, q, Search.Bm25, 10)
        .select($"url").as[String].collect().toSet
    // BM25 idf is positive only for terms in fewer than half the docs
    val filler = Seq(4L -> "seal pup", 5L -> "orca pod", 6L -> "tern nest")
    writeDocs(d, Seq(0L -> "walrus tusk ice floe", 1L -> "walrus colony",
      2L -> "penguin rookery", 3L -> "kelp forest") ++ filler)
    val idx = Corpus.ensureIndex(spark, d)
    assert(urls(idx, "walrus") ==
      Set("doc000000000000", "doc000000000001"))
    // crash window with an unchanged source: the marker is gone, the
    // rerun resumes this build's own checkpoints (the ft stage is skipped)
    val ftMarker = new java.io.File(s"$idx/_lineage/build0/ft__-1.json")
    val ftMarkedAt = ftMarker.lastModified()
    new java.io.File(s"$idx/_meta").delete()
    assert(Corpus.ensureIndex(spark, d) == idx)
    assert(ftMarker.lastModified() == ftMarkedAt)

    writeDocs(d, Seq(0L -> "penguin chick", 1L -> "walrus tusk",
      2L -> "penguin egg", 3L -> "krill swarm", 7L -> "gull cry") ++ filler)
    assert(Corpus.ensureIndex(spark, d) == idx, "dir is stable per source")
    assert(urls(idx, "walrus") == Set("doc000000000001"))
    assert(urls(idx, "penguin") ==
      Set("doc000000000000", "doc000000000002"))
    assert(urls(idx, "krill") == Set("doc000000000003"))
    val m = Corpus.buildMetricsDf(spark, d).collect()(0)
    assert(m.getAs[String]("buildId") == "build0")
    assert(m.getAs[Long]("docCount") == 8L)
  }

  test("IVF and IVF-PQ over an embeddings table rewritten at the SAME " +
      "path rebuild, and queries answer from the new centroids") {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfdrift_").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivffresh_")
      .toString
    writeVecs(d, clusteredVecs(seed = 1, id0 = 0L))
    val qv = clusteredVecs(seed = 2, id0 = 100L).head._2
    // warm both memos on the old index
    val ivfDir = Ann.ensureIvfIndex(spark, d, nlist = 2, iters = 3)
    val pqDir = Ann.ensureIvfPqIndex(spark, d, nlist = 2, m = 4, ksub = 4,
      iters = 3)
    assert(Ann.ivfQuery(spark, ivfDir, qv, k = 3, nprobe = 1)
      .collect().nonEmpty)
    assert(Ann.ivfPqQuery(spark, d, pqDir, qv, k = 3, nprobe = 1)
      .collect().nonEmpty)

    writeVecs(d, clusteredVecs(seed = 2, id0 = 100L))
    writeVecs(fresh, clusteredVecs(seed = 2, id0 = 100L))
    assert(Ann.ensureIvfIndex(spark, d, nlist = 2, iters = 3) == ivfDir)
    assert(Ann.ensureIvfPqIndex(spark, d, nlist = 2, m = 4, ksub = 4,
      iters = 3) == pqDir)
    val trained = Ann.trainIvfCentroids(spark, d, nlist = 2, iters = 3)
    assert(Ann.loadIvfCentroids(spark, ivfDir).zip(trained)
      .forall { case (a, b) => a.sameElements(b) })
    val freshIvf = Ann.ensureIvfIndex(spark, fresh, nlist = 2, iters = 3)
    val freshPq = Ann.ensureIvfPqIndex(spark, fresh, nlist = 2, m = 4,
      ksub = 4, iters = 3)
    val ivf = hits(Ann.ivfQuery(spark, ivfDir, qv, k = 3, nprobe = 1))
    assert(ivf.nonEmpty && ivf.forall(_._1 >= 100L), s"got $ivf")
    assert(ivf == hits(Ann.ivfQuery(spark, freshIvf, qv, k = 3, nprobe = 1)))
    val pq = hits(Ann.ivfPqQuery(spark, d, pqDir, qv, k = 3, nprobe = 1))
    assert(pq.nonEmpty && pq.forall(_._1 >= 100L), s"got $pq")
    assert(pq ==
      hits(Ann.ivfPqQuery(spark, fresh, freshPq, qv, k = 3, nprobe = 1)))
  }

  test("crash window: an IVF / IVF-PQ index with no marker and a " +
      "truncated cells table is refused, then rebuilt whole") {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfcrash_").toString
    writeVecs(d, clusteredVecs(seed = 3, id0 = 0L))
    val qv = clusteredVecs(seed = 3, id0 = 0L).head._2
    def ivf(): String = Ann.ensureIvfIndex(spark, d, nlist = 2, iters = 3)
    def pq(): String = Ann.ensureIvfPqIndex(spark, d, nlist = 2, m = 4,
      ksub = 4, iters = 3)
    def queryIvf(dir: String) = hits(Ann.ivfQuery(spark, dir, qv, k = 8,
      nprobe = 2))
    def queryPq(dir: String) = hits(Ann.ivfPqQuery(spark, d, dir, qv, k = 8,
      nprobe = 2, rerank = 0))
    for ((ensure, query, what) <- Seq(
        (() => ivf(), queryIvf _, "IVF"), (() => pq(), queryPq _, "IVF-PQ"))) {
      val dir = ensure()
      val before = query(dir)
      assert(before.size == 8)
      new java.io.File(s"$dir/_meta").delete()
      val cells = new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("cell="))
      assert(cells.length == 2)
      org.apache.commons.io.FileUtils.deleteDirectory(cells.head)
      val e = intercept[IllegalStateException](query(dir))
      assert(e.getMessage.startsWith(s"no $what index"), e.getMessage)
      assert(ensure() == dir)
      assert(query(dir) == before, s"$what rebuild is not whole")
    }
  }

  test("simhash declarative 64-bit-sum aggregate ≡ the per-group closure " +
      "it replaced") {
    import org.apache.spark.sql.functions.{col, count, explode, filter,
      lit, lower, split, xxhash64}
    val got = Dedup.simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the former groupByKey.mapGroups fold, driven from the
    // same (doc_id, tf, h) frame so the token hashes are identical
    val tfRows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "), t => t =!= ""))
          .as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("tok")))
      .select("doc_id", "tf", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = tfRows.groupBy(_._1).map { case (docId, rows) =>
      val acc = new Array[Long](64)
      rows.foreach { case (_, tf, h) =>
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) acc(bit) += tf else acc(bit) -= tf
          bit += 1
        }
      }
      var sig = 0L
      var bit = 0
      while (bit < 64) {
        if (acc(bit) > 0) sig |= (1L << bit)
        bit += 1
      }
      docId -> sig
    }
    assert(got == want)
  }

  test("ivf-pq build survives heterogeneous embedding lengths " +
      "(clamped/zero-padded, not AIOOBE-aborted)") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_ops_mixed_").toString
    val vecs = Seq(
      (0L, Array.fill(64)(0.1f), 0),
      (1L, Array.fill(16)(0.2f), 0), // shorter than the training dim
      (2L, Array.fill(64)(0.3f), 1),
      (3L, Array.fill(80)(0.4f), 1)) // longer than the training dim
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")
    // kmeansL2 / trainPqCodebooks / encodePq all see the mixed lengths;
    // before the clamp this threw ArrayIndexOutOfBounds during training
    val r = Ann.ivfPqTopK(spark, d, queryVecId = 0L, k = 3,
      nlist = 2, nprobe = 2, m = 4, ksub = 4, rerank = 0, iters = 2)
    assert(r.collect().nonEmpty)
  }
  test("ivf-pq over empty embeddings → empty result (no codebook to " +
      "index, built, memoized or reloaded)") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_ops_empty_").toString
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")
    for (rerank <- Seq(3, 0))
      assert(Ann.ivfPqTopK(spark, d, queryVecId = 0L, k = 3, nlist = 2,
        nprobe = 2, m = 4, ksub = 4, rerank = rerank, iters = 2)
        .collect().isEmpty)
    val pqDir = Ann.ensureIvfPqIndex(spark, d, nlist = 2, m = 4, ksub = 4,
      iters = 2)
    val (cents, books) = Ann.loadIvfPq(spark, pqDir)
    assert(cents.isEmpty && books.isEmpty)
    for (rerank <- Seq(3, 0)) {
      val r = Ann.ivfPqQuery(spark, d, pqDir, Array.fill(8)(0.5f), k = 3,
        nprobe = 2, rerank = rerank)
      assert(r.columns.toSeq == Seq("vec_id", "cos") && r.collect().isEmpty)
    }
  }
}
