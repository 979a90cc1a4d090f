package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.Synth
import graft.index.Schema
import graft.query.Expand
import graft.text.Lexer

/** Seeded benchmark inputs. Pages come from the program's own `Synth`
  * generator with a log-uniform tail vocabulary mixed in, and every
  * text-mode page carries two page-unique numeric ids, so the dictionary is
  * web-shaped: 8 head terms in nearly every page, a core vocabulary, a long
  * tail and one-off ids.
  */
object Gen {
  val TailVocab = 50000

  /** Page `i` of the corpus for `seed`. `version` > 0 is a re-crawl: same
    * url, new body, `warc_ts` moved forward by `version` hours.
    */
  def page(i: Long, seed: Long, version: Int = 0): Synth.PageRow = {
    // Synth seeds page i's generator with seed ^ (i·φ + 1): a seed of 0
    // would make page i+1's stream page i's shifted by one draw, so the
    // benchmark seed is mixed first
    val synthSeed = new Synth.Rng(seed * 1000003L + version).nextLong()
    val body = Synth.page(i, synthSeed, TailVocab)
    val url = Synth.page(i, 0L).url
    val ts = new Timestamp(body.warc_ts.getTime + version * 3600000L)
    val text =
      if (body.text == null) null
      else s"${body.text} ${idToken(i)} ${9000000L + i + 7919L * version}"
    Synth.PageRow(url, ts, body.html, text, body.lang)
  }

  /** The page-unique id token of text-mode page `i` (`i % 3 != 0`). */
  def idToken(i: Long): String = (7000000L + i).toString

  def pages(n: Int, seed: Long): IndexedSeq[Synth.PageRow] =
    (0 until n).map(i => page(i.toLong, seed))

  /** The text the reference extractor yields for `p`, computed without the
    * program's XML parser.
    */
  def content(p: Synth.PageRow): String = Synth.expectedText(p)

  def toDf(spark: SparkSession, rows: Seq[Synth.PageRow]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows.map(p =>
      Schema.Page(p.url, p.warc_ts, p.html, p.text, p.lang))).toDF()
  }

  /** Writes `rows` as a parquet table of `files` files. */
  def writeTable(
      spark: SparkSession, rows: Seq[Synth.PageRow], dir: String,
      files: Int): Unit =
    toDf(spark, rows).repartition(files).write.mode("overwrite").parquet(dir)
}

/** Seeded query text. BM25 queries that mix a head term (df > (N+1)/2, so a
  * negative idf) with a positive-idf term are never generated: the program
  * answers some of them wrongly (block-max WAND fault, see README), and
  * which ones depends on the corpus, so they would make the failed count
  * depend on the seed. The fault is measured instead by one fixed query on
  * a fixed corpus ([[Queries.FaultProbe]]).
  */
object Queries {
  /** Synth draws its first 8 vocabulary words into every page. */
  val head: IndexedSeq[String] = Synth.vocab.take(8)
  private val headStems: Set[String] = head.flatMap(Lexer.tokenize(_)).toSet

  /** Core words that tokenize to one non-head term of 4+ letters. */
  val mid: IndexedSeq[String] = Synth.vocab.drop(8).filter { w =>
    w.length >= 4 && w.forall(Character.isLetter) && {
      val t = Lexer.tokenize(w)
      t.length == 1 && !headStems(t.head)
    }
  }

  /** Head-term BM25 query with a positive term that the program answers
    * wrongly on the `serve` corpus (seed 0); `Main failures` lists it.
    */
  val FaultProbe = "page generate"

  /** True when a token of `q` is, or expands to, a head term. */
  def touchesHead(q: String): Boolean = {
    val toks = Lexer.tokenize(q).toSeq
    toks.exists(headStems) || Expand.expandAll(toks, headStems).nonEmpty
  }

  private def pick[A](rng: Synth.Rng, xs: IndexedSeq[A]): A =
    xs(rng.nextInt(xs.length))

  /** One edit (substitute, delete or insert a letter) inside `w`. */
  def typo(rng: Synth.Rng, w: String): String = {
    val i = 1 + rng.nextInt(w.length - 2)
    val c = ('a' + rng.nextInt(26)).toChar
    rng.nextInt(3) match {
      case 0 => w.substring(0, i) + c + w.substring(i + 1)
      case 1 => w.substring(0, i) + w.substring(i + 1)
      case _ => w.substring(0, i) + c + w.substring(i)
    }
  }

  /** A tail-vocabulary word outside the most frequent ids. */
  def tail(rng: Synth.Rng): String =
    "w" + java.lang.Long.toString(1000L + rng.nextInt(TailSpan), 36)
  private val TailSpan = Gen.TailVocab - 1000

  /** A query of the kind users repeat: core words, a typo'd core word or
    * a tail word.
    */
  def repeated(rng: Synth.Rng): String = {
    var q = ""
    while (q.isEmpty || touchesHead(q)) {
      q = rng.nextInt(4) match {
        case 0 => pick(rng, mid)
        case 1 => s"${pick(rng, mid)} ${pick(rng, mid)}"
        case 2 => typo(rng, pick(rng, mid))
        case _ => s"${pick(rng, mid)} ${tail(rng)}"
      }
    }
    q
  }

  /** A first-seen query: the never-queried id of text page `page` plus a
    * tail word or a typo'd core word, so it misses every serving cache.
    */
  def firstSeen(rng: Synth.Rng, page: Long): String = {
    var q = ""
    while (q.isEmpty || touchesHead(q)) {
      val other = if (rng.nextInt(2) == 0) tail(rng) else typo(rng, pick(rng, mid))
      q = s"${Gen.idToken(page)} $other"
    }
    q
  }

  /** A query of head terms only: every score is negative, so the answer is
    * empty, after the longest posting lists are fetched and scored.
    */
  def headOnly(rng: Synth.Rng): String = pick(rng, head)
}
