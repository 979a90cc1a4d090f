package graft.index

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.oracle.RefModel
import graft.query.{IndexHandles, Search}
import graft.text.Extract

/** Randomized (seeded, fully deterministic) maintenance chaos: a long
  * interleaving of partial upserts, full snapshots with purges, malformed
  * and stop-only re-extractions, duplicate-url batches, explicit
  * compactions, and CRASH injections (lost `_compacted` marker; fold
  * restarted under a durable intent; a commit's delta tables written but
  * no marker) — with the engine checked against
  * the reference oracle AFTER EVERY STEP at the strongest level:
  * flattened live postings multiset, terms df, and stats. The individual
  * protocol specs each pin one transition; this spec walks a random path
  * through their product space, which is where merge-on-read bugs hide
  * (the round-5 added-doc fold hole was exactly such a composition).
  *
  * Seed sweep: 421 is the committed walk; seeds 9422 and 77001 were also
  * run green in the round-5 session (swap the seed locally to re-sweep —
  * every walk is fully deterministic).
  */
class ChaosSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexBuilder.BuildConf(
    partitions = 4, postingGroups = 2, queryBuckets = 8,
    deltaCompactEvery = 3) // fold often — more layer transitions per step

  private val rng = new scala.util.Random(421)

  private sealed trait Kind
  private case object Normal extends Kind
  private case object Malformed extends Kind
  private case object StopOnly extends Kind

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "theta", "kappa", "query", "data", "spark", "texture",
    "shader", "buffer", "vertex", "pixel")

  private val baseMs = Timestamp.valueOf("2026-01-01 00:00:00").getTime
  private def ts(v: Int) = new Timestamp(baseMs + v * 3600000L)
  private def urlOf(u: Int) = f"/chaos/doc$u%03d"

  /** Deterministic per-(url, version) body over a shared vocabulary plus
    * a unique token — every version change really changes the postings.
    */
  private def textOf(u: Int, v: Int): String = {
    val r = new scala.util.Random(u * 100003L + v)
    val n = 5 + r.nextInt(30)
    (0 until n).map(_ => vocab(r.nextInt(vocab.size)))
      .mkString(" ") + s" uniq${u}x$v"
  }

  private def pageRow(u: Int, v: Int, kind: Kind): Schema.Page = kind match {
    case Normal => Schema.Page(urlOf(u), ts(v), null, textOf(u, v), "en")
    case Malformed => Schema.Page(urlOf(u), ts(v),
      "<broken><xml".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      null, "en")
    case StopOnly => Schema.Page(urlOf(u), ts(v), null,
      "the is and of to", "en")
  }

  private def df(rows: Seq[Schema.Page]) =
    spark.createDataset(rows).toDF()

  /** Mirrors `Incremental.update` on the oracle: last-write-wins batch
    * dedup (our injected duplicates are strictly older, so max-ts wins),
    * M1 staleness, parse-error-keeps-old, A3 empty-removes, M3 purge.
    */
  private def applyToOracle(
      m: RefModel, batch: Seq[Schema.Page], purge: Boolean): Unit = {
    val winners = batch.groupBy(_.url).values.map(_.maxBy(_.warc_ts.getTime))
    winners.foreach { p =>
      if (m.requiresReindexing(p.url, p.warc_ts.getTime))
        Extract.extractText(p.html, p.text) match {
          case Some(t) => m.addDocument(p.url, t, p.warc_ts.getTime)
          case None => () // parse error → old version survives
        }
    }
    if (purge) {
      val present = batch.iterator.map(_.url).toSet
      m.docs.keys.filterNot(present).toVector.foreach(m.removeDocument)
    }
  }

  private def hfs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Flattened live postings as a sorted MULTISET (duplicates must show). */
  private def flatLive(dir: String): Seq[(String, String, Long, Long)] = {
    val snap = DeltaLog.snapshot(spark, dir)
    val docs = snap.docs.select($"docId", $"url")
    val terms = snap.terms
      .select($"termId", $"term")
    snap.postings
      .join(docs, "docId").join(terms, "termId")
      .select($"url", $"term", $"tf".cast("long"), $"docLen".cast("long"))
      .as[(String, String, Long, Long)].collect().toSeq.sorted
  }

  private def groups(v: Vector[(String, Float)]) =
    v.groupBy(_._2).toVector.sortBy(-_._1)
      .map { case (s, rows) => (s, rows.map(_._1).toSet) }

  private def verify(dir: String, m: RefModel, step: String): Unit = {
    val got = flatLive(dir)
    val want = m.docs.toVector.flatMap { case (url, d) =>
      d.ft.toVector.map { case (t, c) => (url, t, c, d.count) }
    }.sorted
    assert(got == want, s"[$step] live postings diverge: " +
      s"engine=${got.size} oracle=${want.size} " +
      s"onlyEngine=${(got.diff(want)).take(5)} " +
      s"onlyOracle=${(want.diff(got)).take(5)}")
    val stats = DeltaLog.snapshot(spark, dir).stats
    assert(stats.docCount == m.docs.size.toLong, s"[$step] docCount")
    assert(stats.totalTokens == m.totalTokens, s"[$step] totalTokens")
    val dfGot = DeltaLog.snapshot(spark, dir).terms
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val dfWant = m.gtf.toMap
    assert(dfGot == dfWant, s"[$step] terms df diverge: " +
      s"${(dfGot.toSet diff dfWant.toSet).take(5)} vs " +
      s"${(dfWant.toSet diff dfGot.toSet).take(5)}")
    // end-to-end scoring spot check (rank identity modulo equal-score ties)
    val q = "texture shader data"
    val engineTop = Search
      .searchTop(spark, dir, q, Search.Bm25, 100000)
      .select($"url", $"score").as[(String, Float)].collect().toVector
    assert(groups(engineTop) ==
      groups(m.searchTop(q, RefModel.Bm25, 100000)), s"[$step] bm25 ranks")
  }

  test("25-step randomized maintenance chaos ≡ oracle after every step " +
      "(upserts, purges, malformed/stop-only, dups, folds, crash windows)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_chaos_").toString
    var crawl = (0 until 40).map(u => u -> ((0, Normal: Kind))).toMap
    var universe = 40
    val m = new RefModel()

    val init = crawl.toSeq.sortBy(_._1)
      .map { case (u, (v, k)) => pageRow(u, v, k) }
    IndexBuilder.build(spark, df(init), dir, conf)
    applyToOracle(m, init, purge = false)
    verify(dir, m, "bootstrap")

    (1 to 25).foreach { step =>
      val op = rng.nextInt(100)
      if (op < 55) {
        // partial upsert (streaming shape): some edits, some brand-new
        val nNew = rng.nextInt(3)
        val newUrls = (0 until nNew).map { _ =>
          val u = universe; universe += 1; u
        }
        val existing = rng.shuffle(crawl.keys.toVector)
          .take(1 + rng.nextInt(6))
        val ups = (existing ++ newUrls).map { u =>
          val v = crawl.get(u).map(_._1 + 1).getOrElse(0)
          val kind: Kind = rng.nextInt(10) match {
            case 0 => Malformed
            case 1 => StopOnly
            case _ => Normal
          }
          crawl += u -> ((v, kind))
          (u, v, kind)
        }
        var rows = ups.map { case (u, v, k) => pageRow(u, v, k) }
        // sometimes add a STRICTLY-OLDER duplicate row for one url — the
        // last-write-wins dedup must drop it (and never double-join)
        val dupCandidates = ups.filter(_._2 > 0)
        if (rng.nextInt(10) < 3 && dupCandidates.nonEmpty) {
          val (u, v, _) = dupCandidates(rng.nextInt(dupCandidates.size))
          rows = rows :+ pageRow(u, v - 1, Normal)
        }
        Incremental.update(spark, df(rows), dir, conf,
          purgeVanished = false)
        applyToOracle(m, rows, purge = false)
        verify(dir, m, s"step $step upsert(${rows.size})")
      } else if (op < 75) {
        // full snapshot: drop up to 3 urls, everything else at its
        // current version (unchanged docs must NOT re-index)
        val drops = rng.shuffle(crawl.keys.toVector)
          .take(rng.nextInt(math.min(4, crawl.size)))
        crawl --= drops
        val rows = crawl.toSeq.sortBy(_._1)
          .map { case (u, (v, k)) => pageRow(u, v, k) }
        Incremental.update(spark, df(rows), dir, conf,
          purgeVanished = true)
        applyToOracle(m, rows, purge = true)
        verify(dir, m, s"step $step snapshot(-${drops.size})")
      } else if (op < 85) {
        Incremental.compact(spark, dir, conf)
        verify(dir, m, s"step $step compact")
      } else if (op < 93) {
        // crash: BOTH compacted-floor copies lost (marker file + the
        // redundant meta record) — folded deltas re-expose over the
        // folded base; the derived add-tombstones must keep the live
        // view identical
        val p = new Path(s"$dir/deltas/_compacted")
        if (hfs(dir).exists(p)) {
          hfs(dir).delete(p, false)
          IndexBuilder.updateMeta(spark, dir, Map("compactedThrough" -> "0"))
          IndexHandles.invalidate(dir)
          verify(dir, m, s"step $step lost-marker")
        }
      } else {
        // crash: compact() died between fold and clear — restart under
        // the durable intent must not double-materialize anything
        val p = new Path(s"$dir/deltas/_compacted")
        if (hfs(dir).exists(p)) {
          val bucketSize =
            IndexBuilder.readMeta(spark, dir)("bucketSize").toLong
          hfs(dir).delete(p, false)
          IndexBuilder.updateMeta(spark, dir, Map("compactedThrough" -> "0"))
          Incremental.writeCompactingIntent(spark, dir, bucketSize)
          IndexHandles.invalidate(dir)
          Incremental.compact(spark, dir, conf)
          verify(dir, m, s"step $step refold")
        }
      }
    }

    // deterministic epilogue: the random walk may not roll every crash
    // op — force one compact + lost-marker + restarted-fold each, so the
    // composed end-state is always exercised regardless of seed
    val extra = (0 until 5).map { _ =>
      val u = universe; universe += 1
      crawl += u -> ((0, Normal: Kind)); pageRow(u, 0, Normal)
    }
    Incremental.update(spark, df(extra), dir, conf, purgeVanished = false)
    applyToOracle(m, extra, purge = false)
    Incremental.compact(spark, dir, conf)
    verify(dir, m, "epilogue compact")
    val marker = new Path(s"$dir/deltas/_compacted")
    assert(hfs(dir).exists(marker))
    hfs(dir).delete(marker, false)
    IndexBuilder.updateMeta(spark, dir, Map("compactedThrough" -> "0"))
    IndexHandles.invalidate(dir)
    assert(DeltaLog.listSeqs(spark, dir).nonEmpty,
      "epilogue must actually re-expose folded deltas")
    verify(dir, m, "epilogue lost-marker")
    val bucketSize = IndexBuilder.readMeta(spark, dir)("bucketSize").toLong
    Incremental.writeCompactingIntent(spark, dir, bucketSize)
    Incremental.compact(spark, dir, conf)
    verify(dir, m, "epilogue refold")

    // crash between the delta tables' write (df and stats changes
    // included) and the commit marker: the seq stays invisible, and its
    // retry overwrites it without applying any change twice
    val edited = crawl.keys.min
    crawl += edited -> ((crawl(edited)._1 + 1, Normal: Kind))
    val crashed = pageRow(edited, crawl(edited)._1, Normal) +:
      (0 until 3).map { _ =>
        val u = universe; universe += 1
        crawl += u -> ((0, Normal: Kind)); pageRow(u, 0, Normal)
      }
    val metaPath = new Path(s"$dir/meta.json")
    val metaBefore = DeltaLog.readSmallBytes(hfs(dir), metaPath)
    assert(!Incremental.update(spark, df(crashed), dir,
      conf.copy(deltaCompactEvery = 100, tombstoneCompactFraction = 100.0),
      purgeVanished = false).compacted)
    val seq = DeltaLog.listSeqs(spark, dir).last
    hfs(dir).delete(new Path(s"${DeltaLog.seqPath(dir, seq)}/_committed"),
      false)
    hfs(dir).delete(new Path(DeltaLog.removedPath(dir, seq)), true)
    DeltaLog.writeAtomicString(hfs(dir), metaPath.toString,
      new String(metaBefore, java.nio.charset.StandardCharsets.UTF_8))
    IndexHandles.invalidate(dir)
    assert(!DeltaLog.listSeqs(spark, dir).contains(seq))
    verify(dir, m, "epilogue crash-before-marker")
    Incremental.update(spark, df(crashed), dir, conf, purgeVanished = false)
    applyToOracle(m, crashed, purge = false)
    verify(dir, m, "epilogue retry")
  }
}
