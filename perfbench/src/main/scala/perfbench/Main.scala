package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.index.{DeltaLog, IndexBuilder}

/** Benchmark entry point; `run.py` builds the classpath and starts it.
  *
  *   run --workload serve|commit --seed N --seconds S --trace 0|1
  *       --work DIR
  *   selftest
  *   failures --seed N --work DIR
  *
  * `run` prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced).
  */
object Main {

  /** (name, unit) of the end-to-end metrics, in BENCHMARK.json order;
    * every workload reports every one.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "hot_query_ms" -> "ms", "index_bytes_per_doc" -> "B",
    "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code =
      try args.headOption match {
        case Some("run") => run(opts)
        case Some("selftest") => SelfTest.run()
        case Some("failures") => Failures.run(opts("seed").toLong, opts("work"))
        case _ =>
          System.err.println("usage: run|selftest|failures [--key value]...")
          2
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(opts: Map[String, String]): Int = {
    val processStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = opts("work")
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val make: Ctx => Workload = opts("workload") match {
      case "serve" => new ServeWorkload(_)
      case "commit" => new CommitWorkload(_)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    val w = make(Ctx(spark, new Trace(traced, spark.sparkContext), work,
      opts("seed").toLong, cores))
    try {
      w.setup()
      val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0
      val t0 = System.nanoTime()
      val rounds = w.run(seconds)
      val windowS = (System.nanoTime() - t0) / 1e9
      w.verify()

      val all = w.attempts.asScala.toSeq
      val failed = all.filter(_.failure.isDefined)
      val expected = failed.filter {
        case Attempt(_, _, _, Answer(q, _)) => q == Queries.FaultProbe
        case _ => false
      }
      w.setupFailures.forEach(f => System.err.println(s"[perfbench] set-up: $f"))
      failed.groupBy(_.failure.get).take(5).foreach { case (f, as) =>
        System.err.println(s"[perfbench] ${as.size} x ${as.head.kind}: $f")
      }
      System.err.println(s"[perfbench] ${opts("workload")}: $rounds rounds, " +
        f"${all.size} ops in $windowS%.1f s, ${failed.size} failed")
      all.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, as) =>
        System.err.println(s"[perfbench]   $k: ${as.size} ops, ms " +
          as.map(a => f"${a.ms}%.0f").take(12).mkString(" "))
      }

      val metrics: Seq[(String, String, Double)] =
        if (traced) Layers.of(w).toSeq.map { case (n, v) =>
          (n, Layers.Defs.find(_._1 == n).get._2, v)
        }
        else {
          val ok = all.filter(_.failure.isEmpty)
          def p50(kinds: Set[String]) =
            Layers.median(ok.filter(a => kinds(a.kind)).map(_.ms))
          val units = ok.count(a => w.unitKinds(a.kind))
          val values = Map(
            "setup_s" -> setupS,
            "op_p50_ms" -> p50(w.unitKinds),
            "ops_per_s" -> units / windowS,
            "hot_query_ms" -> p50(Set("hot")),
            "index_bytes_per_doc" -> indexBytesPerDoc(spark, w.indexDir),
            "peak_rss_mb" -> peakRssMb())
          EndToEnd.map { case (n, u) => (n, u, values(n)) }
        }
      val json = metrics.sortBy(_._1).map { case (n, u, v) =>
        s""""$n":{"value":$v,"unit":"$u"}"""
      }.mkString("{", ",", "}")
      val correct = w.setupFailures.isEmpty && failed.size == expected.size
      println(s"""{"correct":$correct,""" +
        s""""attempted":${all.size},"failed":${failed.size},"metrics":$json}""")
      0
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Bytes of the live index tables (postings, blocks, docs, terms, stats
    * and the visible deltas) per live doc.
    */
  def indexBytesPerDoc(spark: SparkSession, dir: String): Double = {
    val live = Set("postings", "blocks", "docs", "terms", "stats") ++
      DeltaLog.listSeqs(spark, dir).map(s => s"deltas/seq_$s")
    val bytes = Layers.files(dir).collect {
      case (f, (size, _)) if live.exists(t => f.startsWith(t + "/")) => size
    }.sum
    bytes.toDouble / IndexBuilder.readMeta(spark, dir)("docCount").toLong
  }

  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** VmHWM of this process. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
