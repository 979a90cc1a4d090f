package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestSession
import graft.corpus.Synth
import graft.index.{IndexBuilder, Schema}

/** Streaming ingest ≡ batch semantics: feeding page snapshots through
  * micro-batches must land on the same index state as one batch build of
  * the final corpus (modulo id assignment), and the watermarked stats
  * stream must count exactly the fed docs.
  */
class StreamIngestSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexBuilder.BuildConf(
    partitions = 4, postingGroups = 2, queryBuckets = 4)

  private def pageRows(ids: Seq[Long]): Seq[Schema.Page] =
    ids.map { i =>
      val p = Synth.page(i)
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang)
    }

  test("micro-batched ingest ≡ batch build at (url, term, tf, docLen)") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_cp_").toString

    // initial index over docs 0..19, stream delivers 20..59 in batches
    IndexBuilder.build(spark, pageRows(0L until 20L).toDF(), dir, conf)

    val mem = MemoryStream[Schema.Page]
    val q = StreamIngest.maintainIndex(
      mem.toDF(), dir, conf, cp, Trigger.AvailableNow())
    mem.addData(pageRows(20L until 40L): _*)
    mem.addData(pageRows(40L until 60L): _*)
    q.awaitTermination(120000)

    val freshDir = java.nio.file.Files
      .createTempDirectory("graft_stream_fresh_").toString
    IndexBuilder.build(spark, pageRows(0L until 60L).toDF(), freshDir, conf)

    // live views: micro-batch upserts commit merge-on-read deltas, so the
    // comparable state is base ∪ deltas with tombstone liveness applied
    def flat(d: String): Set[(String, String, Int, Int)] = {
      val snap = graft.index.DeltaLog.snapshot(spark, d)
      val docs = snap.docs
        .select($"docId", $"url")
      val terms = snap.terms
        .select($"termId", $"term")
      snap.postings
        .join(docs, "docId").join(terms, "termId")
        .select($"url", $"term", $"tf", $"docLen")
        .as[(String, String, Int, Int)].collect().toSet
    }
    assert(flat(dir) == flat(freshDir))
  }

  test("crawlStats: watermarked window counts every fed doc per lang") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Schema.Page]
    val out = StreamIngest.crawlStats(mem.toDF(),
      windowDur = "10 minutes", slideDur = "10 minutes",
      lateness = "0 seconds")
    val q = out.writeStream
      .format("memory").queryName("crawl_stats")
      .outputMode("append")
      .start()
    def farRow(i: Int) = Schema.Page(
      s"https://closer.example/$i",
      new java.sql.Timestamp(
        Synth.epochBaseMillis + 365L * 24 * 3600 * 1000 + i * 1000L),
      null, "closer doc", "en")
    // batch 1: the 50 docs (watermark still at minimum — nothing emits);
    // batch 2: far-future row → watermark jumps past every doc window;
    // batch 3: another far row → the now-closed windows are EMITTED
    // (append mode emits a window in the batch AFTER the watermark passes
    // its end).
    mem.addData(pageRows(0L until 50L): _*)
    q.processAllAvailable()
    mem.addData(farRow(0))
    q.processAllAvailable()
    mem.addData(farRow(1))
    q.processAllAvailable()
    q.stop()

    val counted = spark.sql(
      "SELECT sum(docs) FROM crawl_stats").as[Long].collect()(0)
    // all 50 original docs land in closed windows (the far rows' window
    // stays open); langs cycle over 5 values
    assert(counted == 50L)
    val langs = spark.sql(
      "SELECT count(DISTINCT lang) FROM crawl_stats").as[Long].collect()(0)
    assert(langs == 5L)
  }
}
