package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.index.DeltaLog

/** One protocol for every index derived from a source table and kept at a
  * stable dir until that table changes (the FT index, IVF, IVF-PQ):
  *
  *   - dir: `root/graft_<kind>_<sanitized source>_<digest of source|params>`
  *     — the readable sanitization is LOSSY ("/a/sf-1" and "/a/sf_1"
  *     collide), the digest of the raw key makes the mapping injective;
  *   - `_meta`: the marker, `params;fp=<source fingerprint>`. Its
  *     existence means the dir holds a COMPLETE index built from that
  *     exact source content; a rewritten source (fingerprint drift) or a
  *     missing marker rebuilds;
  *   - `_building`: the marker value the dir's contents are being built
  *     for. A build resumes the dir's partial outputs (e.g. the FT
  *     index's stage checkpoints) only when it builds the same value;
  *     otherwise the dir is wiped first, so a drifted source never reuses
  *     checkpoints of the old one.
  *
  * Order: invalidate `_meta` FIRST, build, publish `_meta` LAST (atomic
  * temp + rename) — a crash anywhere in between leaves no marker, so a
  * query fails and the next ensure rebuilds instead of serving a partial
  * index.
  */
object DerivedIndex {

  /** The one root of every derived-index dir (and of the tools' scratch
    * outputs): the JVM's temp dir.
    */
  def root: String =
    System.getProperty("java.io.tmpdir").stripSuffix("/")

  private def dirFor(kind: String, source: String, params: String): String = {
    val safe = source.replaceAll("[^A-Za-z0-9.]", "_")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$source|$params".getBytes(StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    s"$root/graft_${kind}_${safe}_$digest"
  }

  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private val memo = scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  /** Returns the dir of the (kind, source, params) index, running
    * `build(dir)` first unless its marker matches the source's current
    * fingerprint. Builds of one dir are serialized; a hit is a
    * listing-only check (no Spark job).
    */
  def ensure(spark: SparkSession, kind: String, source: String,
      params: String)(build: String => Unit): String = {
    val dir = dirFor(kind, source, params)
    locks.getOrElseUpdate(dir, new Object).synchronized {
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val want = s"$params;fp=${LiveResultCache.fingerprint(spark, source)}"
      if (!readString(fs, s"$dir/_meta").contains(want)) {
        fs.delete(new Path(s"$dir/_meta"), false)
        // a rebuild under an unchanged marker (lost `_meta`) rewrites the
        // files too: drop what was loaded from the old ones
        memo.keys.filter(_.startsWith(s"$dir|")).foreach(memo.remove)
        if (!readString(fs, s"$dir/_building").contains(want)) {
          fs.delete(new Path(dir), true)
          fs.mkdirs(new Path(dir))
          DeltaLog.writeAtomicString(fs, s"$dir/_building", want)
        }
        build(dir)
        DeltaLog.writeAtomicString(fs, s"$dir/_meta", want)
      }
      dir
    }
  }

  /** `read` of a published index, memoized on (dir, marker): a rebuilt
    * index has a new marker and is re-read. Bounded — every rebuild mints
    * a fresh key. Throws when `dir` holds no published `what` index.
    */
  def load[T <: AnyRef](spark: SparkSession, dir: String, what: String)(
      read: => T): T = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = readString(fs, s"$dir/_meta").getOrElse(
      throw new IllegalStateException(s"no $what index at $dir"))
    memo.getOrElseUpdate(s"$dir|$marker", {
      if (memo.size > 8) memo.clear()
      read
    }).asInstanceOf[T]
  }

  private def readString(fs: FileSystem, path: String): Option[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) None
    else Some(new String(DeltaLog.readSmallBytes(fs, p), StandardCharsets.UTF_8))
  }
}
