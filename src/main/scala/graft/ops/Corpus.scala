package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexBuilder

/** Adapters between the driver's `/root/testdata` tables and the engine's
  * corpus shape, plus the per-sf FT index as a [[DerivedIndex]]: a repeat
  * ensure is a no-op while `documents.parquet` is unchanged, and a
  * rewritten table rebuilds from scratch (never from the old checkpoints).
  */
object Corpus {

  /** documents(doc_id, text, lang, source, n_chars) → Page rows. The url is
    * zero-padded so lexical url order == doc_id order, making docIds equal
    * doc_ids (deterministic, debuggable).
    */
  def documentsAsPages(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        format_string("doc%012d", col("doc_id")).as("url"),
        (lit(Timestamp.valueOf("2026-01-01 00:00:00"))
          .cast("timestamp")).as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("text"),
        col("lang"))
  }

  def ensureIndex(spark: SparkSession, sfDir: String): String =
    DerivedIndex.ensure(spark, "idx", s"$sfDir/documents.parquet", "ft") {
      dir =>
        // size the partition/group counts to the corpus (parquet metadata
        // count is free): a 5k-doc table does not need 32 range partitions
        val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
        val parts = math.min(32L, math.max(4L, nDocs / 2000L)).toInt
        // urls derive 1:1 from doc_id → unique by construction
        IndexBuilder.build(spark, documentsAsPages(spark, sfDir), dir,
          IndexBuilder.BuildConf(
            partitions = parts,
            postingGroups = math.min(4, parts),
            queryBuckets = math.max(8, parts * 2),
            assumeUniqueUrls = true))
    }

  /** Build metrics of the cached index as a 1-row DataFrame. */
  def buildMetricsDf(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureIndex(spark, sfDir)
    val meta = IndexBuilder.readMeta(spark, dir)
    import spark.implicits._
    Seq((
      meta("buildId"),
      meta("docCount").toLong,
      meta("totalTokens").toLong,
      meta("termCount").toLong,
      meta("postingCount").toLong,
      meta("wallMs").toLong,
      meta("skewRatio").toDouble))
      .toDF("buildId", "docCount", "totalTokens", "termCount",
        "postingCount", "wallMs", "skewRatio")
  }
}
