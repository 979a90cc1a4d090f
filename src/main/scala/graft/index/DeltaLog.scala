package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Schema.{Posting, Stats}

/** Merge-on-read delta log for incremental index maintenance.
  *
  * Rewriting posting/block groups per update amplifies a 1-doc change into
  * a near-full postings rewrite (a changed doc with a diverse vocabulary
  * touches every termId range). Instead, each [[Incremental.update]] appends
  * one sequenced delta under `indexDir/deltas/seq_<n>/`:
  *
  *   - `postings/`  new (termId, docId, tf, docLen, seq) rows
  *   - `blocks/`    the same rows delta+varint-encoded (same bucketSize as
  *                  the base, so WAND aligns base and delta blocks)
  *   - `docs/`      new/replacing DocMeta rows (+ seq)
  *   - `terms/`     signed df changes (termId, term, tlen, df), one row per
  *                  termId whose df changed; only terms new at this seq
  *                  carry their name and tlen
  *   - `stats/`     one row of signed (docCount, totalTokens) changes
  *   - `removed/`   tombstones: (docId, seq) — "every version of docId
  *                  written BEFORE seq is dead"
  *   - `_committed` the commit marker (tiny file, created atomically via
  *                  temp + rename AFTER every table above has fully
  *                  written — see [[commitDelta]])
  *
  * Liveness rule (read side): a row written at layer `r` (base = 0, delta
  * = its seq) is live iff `r >= lastTombstoneSeq(docId)` (0 when none).
  * A replaced doc keeps its stable docId: the tombstone at seq s kills the
  * base/earlier rows, the seq-s rows survive (`s >= s`). The dictionary
  * and stats are summed instead ([[Snapshot.terms]], [[Snapshot.stats]]):
  * the base `terms`/`stats` dirs each carry a stamp, the highest seq they
  * already include, and only deltas above it are added. A delta without
  * these tables (written before they existed) adds nothing. Every read of
  * base + deltas goes through one [[Snapshot]].
  *
  * This is exactly Iceberg's merge-on-read shape (delete files + data
  * files + periodic compaction) expressed on plain parquet; on a real
  * cluster the delta commit maps to one Iceberg snapshot. Read cost grows
  * with the number of live tombstones, so [[Incremental.compact]] folds
  * deltas back into the base when `deltaCompactEvery` deltas accumulate or
  * tombstones exceed min(`tombstoneCompactFraction` of the corpus,
  * `tombstoneAbsoluteCap`).
  */
object DeltaLog {

  def deltasPath(dir: String) = s"$dir/deltas"
  private[index] def seqPath(dir: String, seq: Int) = s"$dir/deltas/seq_$seq"
  private def compactedMarker(dir: String) = s"$dir/deltas/_compacted"
  private def committedMarker(dir: String, seq: Int) =
    s"${seqPath(dir, seq)}/_committed"
  def removedPath(dir: String, seq: Int) = s"${seqPath(dir, seq)}/removed"

  private[index] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fully reads a small meta/marker file to EOF of the stream it opened,
    * retrying ONCE on a transient ChecksumException or EOFException: the
    * file:-scheme [[writeAtomicString]] deletes the stale `.crc` sidecar
    * and ATOMIC_MOVEs the data as two separate steps, so a
    * ChecksumFileSystem reader that opened the old crc just before the
    * delete can verify NEW bytes against the OLD checksum exactly once —
    * the retry re-opens with the post-move state (crc absent → raw read).
    * The length comes from the open stream, not from a separate stat: a
    * stat taken beside the open can describe the other side of a replace
    * (and costs one more filesystem call per read). Every small-file
    * reader in the index/ops layer goes through here.
    */
  private[graft] def readSmallBytes(
      f: FileSystem, p: Path): Array[Byte] = {
    def once(): Array[Byte] = {
      val in = f.open(p)
      try in.readAllBytes()
      finally in.close()
    }
    try once()
    catch {
      case _: org.apache.hadoop.fs.ChecksumException |
          _: java.io.EOFException => once()
    }
  }

  /** Atomic small-file write: temp + atomic-replace rename, so concurrent
    * readers see either the old content or the new — never a truncated
    * overwrite and NEVER an absent file. Shared by every marker/meta
    * writer in the index package.
    *
    * `FileSystem.rename` has no overwrite contract, and the local FS
    * Spark actually installs (Hive's ProxyLocalFileSystem) REFUSES to
    * overwrite — measured: 1999/2000 rewrites returned false — which
    * forced every meta rewrite through a delete-then-rename fallback
    * whose absent-file window ServeSpec's commit-race test caught as a
    * reader 500 on a vanished meta.json. So:
    *
    *   - `file:` scheme → java.nio ATOMIC_MOVE (POSIX rename(2), atomic
    *     replace, no window). The raw write leaves no checksum sidecar;
    *     stale `.crc` sidecars from older writers are deleted first so a
    *     Checksum reader can't verify NEW content against an OLD crc
    *     (with no crc present, reads fall back to raw — no absent-data
    *     window either way).
    *   - other schemes → `FileContext.rename(…, Rename.OVERWRITE)`, the
    *     API that DOES contract atomic replace (HDFS implements it);
    *     only a filesystem with no FileContext binding at all takes the
    *     legacy delete+retry fallback.
    *
    * The temp name is unique per write: concurrent writers to the same
    * destination (Serve maintenance + streaming foreachBatch) must not
    * consume each other's temp file — with a shared name, the loser's
    * fallback would DELETE the destination and then fail its rename.
    */
  private[graft] def writeAtomicString(
      f: FileSystem, path: String, content: String): Unit = {
    val dest = new Path(path)
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val uniq = s".tmp.${java.lang.Thread.currentThread().getId}." +
      java.lang.System.nanoTime()
    if (f.getScheme == "file") {
      val p = java.nio.file.Paths.get(dest.toUri.getPath match {
        case "" => path
        case up => up
      })
      val name = p.getFileName.toString
      val tmp = p.resolveSibling(name + uniq)
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$name.crc"))
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$name.tmp.crc"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(path + uniq)
      val out = f.create(tmp, true)
      out.write(bytes)
      out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext
          .getFileContext(f.getUri, f.getConf)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no FileContext binding: legacy path. The window is real but
          // the second failure must SURFACE, not silently leave
          // meta.json/_committed/_compacted absent (a deleted meta is
          // fatal; a deleted commit marker hides a committed delta).
          if (!f.rename(tmp, dest)) {
            if (f.exists(dest)) f.delete(dest, false)
            require(f.rename(tmp, dest),
              s"atomic write failed: rename $tmp -> $dest after delete")
          }
      }
    }
  }

  /** A small file holding one number; missing, empty or garbage → 0. */
  private[index] def readNumber(f: FileSystem, p: Path): Long =
    if (!f.exists(p)) 0L
    else scala.util.Try(new String(readSmallBytes(f, p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong).getOrElse(0L)

  /** Highest seq folded into the base by [[Incremental.compact]]; seqs at
    * or below it are invisible to readers even while their dirs await
    * grace-period deletion (see [[clear]]).
    *
    * A missing, empty, or garbage marker reads as 0 — that is SAFE, not
    * just lenient: re-exposing folded deltas over the folded base yields
    * the identical live view, BECAUSE every docId a delta writes reads as
    * tombstoned at its seq — including docs merely ADDED by the delta
    * ([[Snapshot.tombstones]] derives those entries from the delta's own
    * docs/ table). The tombstone kills each such doc's folded layer-0 rows
    * and its delta rows re-supply the same content; a marker lost to a crash
    * (and likewise a compact() restarted mid-fold) degrades read cost,
    * never correctness. Were adds untombstoned, both rows would read as
    * live and the doc would be double-materialized.
    *
    * One hairline corner: the DISTRIBUTED-liveness WAND path routes
    * tombstones by `docId / meta.bucketSize`, so re-exposed deltas whose
    * blocks carry a DIFFERENT bucketSize (the fold heals it) under a
    * tombstone set past `graft.maxDriverTombstones` can miss their
    * tombstone's bucket — three independent failures at once; the
    * driver-map path filters by docId globally and is immune.
    */
  def compactedThrough(spark: SparkSession, dir: String): Int = {
    val marker =
      readNumber(fs(spark, dir), new Path(compactedMarker(dir))).toInt
    // redundant floor in meta.json ([[Incremental.compact]] records it
    // after every fold): losing EITHER file alone re-exposes nothing —
    // the derived add-tombstones keep even the both-lost case correct,
    // but redundancy keeps its read cost and the documented
    // distributed-path hairline corner behind TWO independent losses
    val metaFloor = scala.util.Try(
      IndexBuilder.readMeta(spark, dir)
        .get("compactedThrough").map(_.toInt)).toOption.flatten.getOrElse(0)
    math.max(marker, metaFloor)
  }

  /** Committed, uncompacted delta sequence numbers, ascending.
    *
    * A seq is committed iff its `_committed` marker file exists — NOT iff
    * its `removed/` directory exists: Spark's FileOutputCommitter creates
    * the output directory (with `_temporary/`) at job SETUP, before any
    * data commits, so directory existence would make a crashed or
    * in-flight `removed/` write look committed to a concurrent reader —
    * which would then either wedge on schema inference over an empty
    * table or double-apply the delta after the retry. The marker is a
    * separate file written atomically (temp + rename) strictly after the
    * tombstone parquet job commits ([[commitDelta]]), so visibility flips
    * in one rename.
    *
    * Back-compat: deltas committed by the pre-marker code have no
    * `_committed` file (dropping them would resurrect deleted docs and let
    * nextSeq OVERWRITE their dirs), but carry `removed/_SUCCESS`, written
    * at JOB COMMIT strictly after the tombstone data — never true for a
    * crashed/in-flight write — so that also reads as committed.
    */
  def listSeqs(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val p = new Path(deltasPath(dir))
    if (!f.exists(p)) return Nil
    val floor = compactedThrough(spark, dir)
    f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("seq_") => s.stripPrefix("seq_").toInt }
      .filter(s => s > floor &&
        (f.exists(new Path(committedMarker(dir, s))) ||
          f.exists(new Path(s"${removedPath(dir, s)}/_SUCCESS"))))
      .sorted
  }

  /** Monotonic across compactions: compacted dirs may still exist on disk
    * pending grace-period deletion, so a reused seq number would make a
    * fresh commit invisible (≤ compactedThrough). A crashed HALF-written
    * delta keeps its seq (retry overwrites it in place).
    */
  def nextSeq(spark: SparkSession, dir: String): Int =
    math.max(listSeqs(spark, dir).lastOption.getOrElse(0),
      compactedThrough(spark, dir)) + 1

  /** Row count of the parquet files directly under each of `paths` (a
    * missing path counts 0), from their footers — no Spark job. Memoized
    * per dir KEYED ON ITS FILE STATUSES (path+length+mtime): a committed
    * seq's files are immutable and seqs are never reused ([[nextSeq]]
    * floors at [[compactedThrough]]), so repeated view constructions over
    * the same snapshot — every postings/docs view during an update or
    * compaction — skip the per-file footer opens, while a
    * rebuilt-in-place dir (tests) changes the key and misses rather than
    * serving a stale count. The listStatus itself stays per-call: one
    * cheap RPC, vs a footer open per file.
    */
  private val rowsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[graft] def parquetRows(
      spark: SparkSession, paths: Seq[String]): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    paths.map { path =>
      val p = new Path(path)
      val f = p.getFileSystem(hconf)
      if (!f.exists(p)) 0L
      else {
        val sts = f.listStatus(p).toSeq
          .filter(st => st.getPath.getName.endsWith(".parquet"))
        val key = sts.map(st =>
          s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
          .mkString(";")
        if (rowsMemo.size > 1024) rowsMemo.clear() // rebuildable
        rowsMemo.getOrElseUpdate(key,
          sts.map(IndexBuilder.footerRowCount(_, hconf)).sum)
      }
    }.sum
  }

  /** Tombstone working-set cap for driver collects/broadcasts — THE single
    * definition behind [[Snapshot.overflow]], which both the query handles
    * and the maintenance liveness join read.
    */
  private[graft] def maxDriverTombstones(spark: SparkSession): Long =
    spark.conf.getOption("graft.maxDriverTombstones").map(_.toLong)
      .getOrElse(10000000L)

  private val docCols = Seq("docId", "url", "warc_ts", "docLen")

  /** The stamp of a base `terms`/`stats` dir: the highest delta seq the
    * base includes (missing → 0), written into the staging dir before the
    * swap so it moves with the data. The views add only deltas above it,
    * so neither a restarted fold nor a reader between a fold's base swap
    * and [[clear]] counts a delta twice.
    */
  private def stampPath(table: String) = s"$table/_through"

  private[index] def writeStamp(
      spark: SparkSession, table: String, seq: Int): Unit =
    writeAtomicString(fs(spark, table), stampPath(table), seq.toString)

  /** The read snapshot of `dir` now: its seq listing, taken once. See
    * [[Snapshot]]; a query handle passes `collectTombstones = true`.
    */
  def snapshot(spark: SparkSession, dir: String,
      collectTombstones: Boolean = false): Snapshot =
    new Snapshot(spark, dir, listSeqs(spark, dir), collectTombstones)

  /** One consistent read of base + deltas: the ONE delta-seq listing
    * ([[listSeqs]]) every view of it is built from, so a delta commit
    * landing while a reader builds its frames can never pair seq-N data
    * files with a tombstone set missing seq N (which would score a
    * replaced doc from both its old and new layers). Every reader of base
    * + delta tables goes through one: the query handles, the update, the
    * fold, `recover` and the build's final stats and dictionary reads.
    *
    * Row tables (postings, blocks, docs) are read as layers
    * ([[layered]]) and filtered by the liveness rule ([[live]]); the
    * dictionary and stats are summed instead ([[terms]], [[stats]]).
    *
    * The tombstone set is read one of two ways. A maintenance snapshot
    * joins it straight from the deltas' parquet. A query handle's
    * snapshot (`collectTombstones`) collects it to the driver once
    * ([[tombMap]] — the WAND decode filter needs the map anyway) and
    * joins those rows, so the handle reads its tombstones once.
    */
  final class Snapshot private[DeltaLog] (
      spark: SparkSession,
      dir: String,
      val seqs: Seq[Int],
      collectTombstones: Boolean) {
    import spark.implicits._

    private def seqDirs(table: String): Seq[String] =
      seqs.map(s => s"${seqPath(dir, s)}/$table")

    /** The `table` of every delta in the snapshot, `seq` column
      * included; None without deltas.
      */
    def deltas(table: String): Option[DataFrame] =
      if (seqs.isEmpty) None
      else Some(spark.read.parquet(seqDirs(table): _*))

    /** Delta blocks (TermBlock columns + `seq`); None when no deltas. */
    def deltaBlocks: Option[DataFrame] = deltas("blocks")

    /** `base` with `_seq` = 0, union `delta`'s rows with `_seq` = their
      * seq, on base's columns: the layer column [[live]] reads.
      */
    def layered(base: DataFrame, delta: Option[DataFrame]): DataFrame = {
      val cols = base.columns.toSeq.map(col) :+ col("_seq")
      val b = base.withColumn("_seq", lit(0))
      delta.fold(b)(d => b.unionByName(
        d.withColumn("_seq", col("seq").cast("int")).select(cols: _*)))
    }

    /** Tombstone ROW count across the snapshot's deltas, summed from
      * parquet footers — no Spark job ([[parquetRows]]). removed/ + docs/:
      * [[tombstones]] derives an add-tombstone per doc row, so the
      * liveness working set the overflow gate bounds includes both sides.
      * Upper-bounds the distinct-docId tombstone working set.
      */
    lazy val tombRows: Long =
      parquetRows(spark, seqDirs("removed") ++ seqDirs("docs"))

    /** True when the tombstone working set is too large to collect to the
      * driver (`graft.maxDriverTombstones`, default 10M ≈ 120 MB of map
      * entries). Compaction normally folds deltas long before this
      * (min(fraction·docCount, tombstoneAbsoluteCap) trigger), but a
      * maintenance lull under heavy churn must DEGRADE to the distributed
      * liveness join, not OOM the driver: [[live]] drops its broadcast
      * hint, [[tombMap]] stays empty, and [[graft.query.Wand.topKArray]]
      * co-partitions [[tombstones]] with blocks by docId bucket.
      */
    lazy val overflow: Boolean = tombRows > maxDriverTombstones(spark)

    /** (docId, tombSeq = max tombstone seq) — the small side of every
      * liveness join; None when no deltas.
      *
      * The set unions the WRITTEN kill tombstones (`removed/`) with
      * DERIVED entries (docId, seq) from each delta's `docs/` table: every
      * docId a delta writes — docs merely ADDED included — reads as
      * tombstoned at its seq. For an add this changes nothing in normal
      * state, but it upholds the invariant the fold's restart/lost-marker
      * safety rests on (see [[compactedThrough]]). Deriving (instead of
      * writing add rows into `removed/`) keeps the kill set pure for the
      * compaction trigger and retrofits the invariant onto deltas
      * committed by older writers.
      */
    def tombstones: Option[DataFrame] = kills.map { removed =>
      val f = fs(spark, dir)
      // hand-crafted/degenerate deltas may lack docs/ — skip, don't fail
      val docsDirs = seqDirs("docs").filter(p => f.exists(new Path(p)))
      val sides =
        if (docsDirs.isEmpty) removed
        else removed.unionByName(spark.read.parquet(docsDirs: _*)
          .select(col("docId"), col("seq")))
      sides.groupBy("docId").agg(max(col("seq")).cast("int").as("tombSeq"))
    }

    /** WRITTEN kill tombstones only (replaced/removed docs — no derived
      * add entries), ungrouped (docId, seq). This is the read the
      * compaction TRIGGER wants: a pure-add delta kills nothing and must
      * not drag the fold forward.
      */
    def kills: Option[DataFrame] =
      deltas("removed").map(_.select(col("docId"), col("seq")))

    /** docId → latest tombstone seq, collected to the driver on first use
      * — the WAND decode filter's input. Bounded by compaction
      * (min(fraction·docCount, tombstoneAbsoluteCap) triggers a fold) AND
      * by [[overflow]], under which it is empty and the distributed path
      * takes over; empty on fresh builds too.
      */
    lazy val tombMap: Map[Long, Int] =
      if (overflow) Map.empty
      else tombstones.fold(Map.empty[Long, Int])(
        _.as[(Long, Int)].collect().toMap)

    // the tombstone side live() joins: the collected rows on a handle's
    // snapshot, else read from the snapshot's parquet in the join itself
    private lazy val collectedSide: Option[DataFrame] =
      Some(tombMap).filter(_.nonEmpty)
        .map(_.toSeq.toDF("docId", "tombSeq"))
    private def liveSide: Option[DataFrame] =
      if (collectTombstones && !overflow) collectedSide else tombstones

    /** Applies the liveness rule to a frame carrying a `_seq` layer column
      * ([[layered]]): a row from layer r is live iff r >= tombSeq(docId)
      * (0 when none). The tombstone side is usually small and broadcast —
      * but a maintenance lull under heavy churn can leave more tombstones
      * than the driver can collect (a broadcast build side IS a driver
      * collect). Past [[overflow]] the hint is dropped so Spark picks a
      * shuffled join — how the overflowed compaction that CLEARS the lull
      * reads. The layer columns keep their order; `_seq` goes.
      */
    def live(layers: DataFrame): DataFrame = {
      val out = layers.columns.toSeq.filter(_ != "_seq").map(col)
      liveSide match {
        case None => layers.select(out: _*)
        case Some(t) =>
          layers.join(if (overflow) t else broadcast(t), Seq("docId"), "left")
            .filter(col("_seq") >= coalesce(col("tombSeq"), lit(0)))
            .select(out: _*)
      }
    }

    private lazy val postingGroups: Int =
      IndexBuilder.readMeta(spark, dir)("postingGroups").toInt
    private def groupDirs: Seq[String] = (0 until postingGroups)
      .map(i => s"${IndexBuilder.postingsPath(dir)}/group=$i")

    /** Live postings across base + deltas: (termId, docId, tf, docLen). */
    def postings: DataFrame = live(layered(
      spark.read.parquet(groupDirs: _*)
        .select("termId", "docId", "tf", "docLen"),
      deltas("postings")))

    /** Every posting stored, from parquet footers (no Spark job): base
      * groups plus delta layers, dead postings of replaced docs included
      * until compaction drops them.
      */
    def storedPostings: Long =
      parquetRows(spark, groupDirs ++ seqDirs("postings"))

    private def docLayers: DataFrame = layered(spark.read
      .parquet(IndexBuilder.docsPath(dir)).select(docCols.map(col): _*),
      deltas("docs"))

    /** Live docs table across base + deltas. */
    def docs: DataFrame = live(docLayers)

    /** Every doc row ever written (dead included) — for max-docId
      * assignment, so a purged doc's id is never handed to a new url while
      * tombstones that mention it are still live.
      */
    def docsAllLayers: DataFrame = docLayers.drop("_seq")

    /** The `name` tables of the deltas above the stamp of `stampOf`. */
    private def deltaTables(
        name: String, stampOf: Option[String]): Seq[String] = {
      val f = fs(spark, dir)
      val through =
        stampOf.fold(0L)(t => readNumber(f, new Path(stampPath(t))))
      seqs.filter(_ > through).map(s => s"${seqPath(dir, s)}/$name")
        .filter(t => f.exists(new Path(t)))
    }

    /** The dictionary readers see, (termId, term, df, tlen): the base plus
      * the signed df changes of the deltas above its stamp. The changes are
      * summed on the driver — O(batch × visible seqs), bounded by compaction
      * — and applied to the base in one narrow pass, with no shuffle: terms
      * new in a delta are appended, rows whose df falls to 0 are dropped.
      * With no such delta this is the base read as written.
      */
    def terms: DataFrame = {
      val table = IndexBuilder.termsPath(dir)
      val base = spark.read.parquet(table)
      val tables = deltaTables("terms", Some(table))
      if (tables.isEmpty) return base
      val changes = spark.read.parquet(tables: _*)
        .select("termId", "term", "tlen", "df")
        .as[(Long, String, Option[Int], Long)].collect()
        .groupMapReduce(_._1)(c => (c._2, c._3, c._4))((a, b) =>
          (Option(a._1).getOrElse(b._1), a._2.orElse(b._2), a._3 + b._3))
      val tlen = if (base.columns.contains("tlen")) col("tlen")
        else octet_length(col("term"))
      base.select(col("termId"), col("term"), col("df"), tlen.as("tlen"))
        .as[(Long, String, Long, Int)]
        .mapPartitions(_.flatMap { case (id, t, df, len) =>
          Some((id, t, df + changes.get(id).fold(0L)(_._3), len))
            .filter(_._3 > 0)
        })
        .union(changes.toSeq.collect { case (id, (t, len, d))
          if t != null && d > 0 => (id, t, d, len.getOrElse(0)) }.toDS())
        .toDF("termId", "term", "df", "tlen")
    }

    /** (docCount, totalTokens) readers see: the base row plus the signed
      * changes of the deltas above its stamp.
      */
    def stats: Stats = {
      val table = IndexBuilder.statsPath(dir)
      val tables = deltaTables("stats", Some(table))
      if (tables.isEmpty) spark.read.parquet(table).as[Stats].head()
      else spark.read.parquet(table +: tables: _*)
        .agg(sum("docCount").cast("long").as("docCount"),
          sum("totalTokens").cast("long").as("totalTokens"))
        .as[Stats].head()
    }

    /** Every termId of the base and the visible terms deltas, zero-df rows
      * included: new terms are numbered above all of them, as
      * [[docsAllLayers]] does for docs — a dropped term keeps its base row
      * until the fold, and reusing its id would give one termId two names.
      */
    def termIdsAllLayers: DataFrame = {
      val base =
        spark.read.parquet(IndexBuilder.termsPath(dir)).select("termId")
      val tables = deltaTables("terms", None)
      if (tables.isEmpty) base
      else base.union(spark.read.parquet(tables: _*).select("termId"))
    }
  }

  /** Writes one delta's DATA tables (postings + their encoded blocks +
    * doc rows + df and stats changes) and returns the postings written,
    * from the footers. NOT visible to readers until [[commitDelta]] writes
    * the `_committed` marker; a crash in between leaves an invisible
    * half-written dir that the retry overwrites.
    */
  def writeDeltaData(
      spark: SparkSession,
      dir: String,
      seq: Int,
      postingsAdd: DataFrame,
      docsAdd: DataFrame,
      termsDelta: DataFrame,
      statsDelta: Stats,
      blockSize: Int,
      bucketSize: Long,
      parts: Int): Long = {
    val p = seqPath(dir, seq)
    // a retried seq must re-commit from scratch: drop any stale marker a
    // previous successful commit of this seq could have left (can only
    // happen if a caller re-runs a committed seq, which the nextSeq
    // protocol forbids — cheap insurance against manual intervention)
    val f = fs(spark, dir)
    val m = new Path(committedMarker(dir, seq))
    if (f.exists(m)) f.delete(m, false)
    postingsAdd.select("termId", "docId", "tf", "docLen")
      .withColumn("seq", lit(seq))
      .write.mode("overwrite").parquet(s"$p/postings")
    val sorted = spark.read.parquet(s"$p/postings")
      .select(col("termId"), col("docId"),
        col("tf").cast("int").as("tf"), col("docLen").cast("int").as("docLen"))
      .repartitionByRange(parts, col("termId"), col("docId"))
      .sortWithinPartitions("termId", "docId")
      .as[Posting](org.apache.spark.sql.Encoders.product[Posting])
    sorted.mapPartitions(it => Blocks.encode(it, blockSize, bucketSize))(
        org.apache.spark.sql.Encoders.product[Schema.TermBlock])
      .withColumn("seq", lit(seq))
      .write.mode("overwrite").parquet(s"$p/blocks")
    docsAdd.select(docCols.map(col): _*)
      .withColumn("seq", lit(seq))
      .write.mode("overwrite").parquet(s"$p/docs")
    termsDelta.select("termId", "term", "tlen", "df")
      .write.mode("overwrite").parquet(s"$p/terms")
    spark.createDataFrame(Seq(statsDelta))
      .write.mode("overwrite").parquet(s"$p/stats")
    parquetRows(spark, Seq(s"$p/postings"))
  }

  /** COMMITS seq: writes the tombstone table, then — strictly after the
    * parquet job has committed — creates the `_committed` marker file
    * atomically (temp + rename). Marker existence IS commit visibility
    * ([[listSeqs]]); the meta refresh ordered after it in
    * [[Incremental.update]] is rebuilt from the views by
    * [[Incremental.recover]].
    */
  def commitDelta(
      spark: SparkSession,
      dir: String,
      seq: Int,
      tombstones: DataFrame): Unit = { // docId column
    tombstones.select(col("docId"))
      .withColumn("seq", lit(seq))
      .write.mode("overwrite").parquet(removedPath(dir, seq))
    writeAtomicString(fs(spark, dir), committedMarker(dir, seq),
      seq.toString)
  }

  /** Marks every current delta compacted — readers ignore them from the
    * next [[listSeqs]] — and physically deletes only the dirs made
    * invisible by a PREVIOUS compaction at least `graceMs` ago: the grace
    * is measured from when a dir stopped being readable (the previous
    * marker's mtime), never from the dir's own commit time, so in-flight
    * queries whose plans captured the old file listing (the displaced-
    * handle grace in IndexHandles is 60 s) cannot have those files deleted
    * under them. Dirs compacted just now always survive to the NEXT clear
    * call (disk cost: one generation of deltas).
    */
  def clear(spark: SparkSession, dir: String, graceMs: Long = 120000L): Unit = {
    val f = fs(spark, dir)
    val p = new Path(deltasPath(dir))
    if (!f.exists(p)) return
    val all = f.listStatus(p).toSeq.filter(
      _.getPath.getName.startsWith("seq_"))
    val prevFloor = compactedThrough(spark, dir)
    val marker = new Path(compactedMarker(dir))
    val prevMarkerAgeMs: Long =
      if (f.exists(marker))
        System.currentTimeMillis() - f.getFileStatus(marker)
          .getModificationTime
      else Long.MinValue // no earlier compaction → nothing is deletable yet
    val maxSeq = (prevFloor +: all.map(
      _.getPath.getName.stripPrefix("seq_").toInt)).max
    // marker via temp + rename — an in-place overwrite has a truncated-
    // content window that would read as garbage (and the fallback-0 read,
    // while safe, would resurrect read cost)
    writeAtomicString(f, compactedMarker(dir), maxSeq.toString)
    if (prevMarkerAgeMs > graceMs)
      all.filter(_.getPath.getName.stripPrefix("seq_").toInt <= prevFloor)
        .foreach(st => f.delete(st.getPath, true))
  }
}
