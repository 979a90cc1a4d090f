package perfbench

/** Checks the top-k comparator without Spark: it must accept what the
  * engine may legally differ in and reject a missed top-k document.
  */
object SelfTest {
  private def v(xs: (String, Float)*): Vector[(String, Float)] = xs.toVector

  /** The fault probe on the `serve` corpus, as `Main failures` printed it:
    * WAND drops a document that outscores the k-th result.
    */
  val RecordedWant: Vector[(String, Float)] = v(
    "https://site76.example/3083/page.txt" -> 7.529981f,
    "https://site80.example/2893/page.txt" -> 7.4772105f,
    "https://site48.example/824/page.txt" -> 7.357486f,
    "https://site74.example/3178/page.txt" -> 7.3185444f,
    "https://site13.example/2438/page.txt" -> 7.272714f,
    "https://site46.example/46/page.txt" -> 7.226815f,
    "https://site95.example/1841/page.txt" -> 7.1632824f,
    "https://site50.example/3251/page.txt" -> 7.1224737f,
    "https://site24.example/2449/page.txt" -> 7.112399f,
    "https://site85.example/182/page.txt" -> 7.0994024f)
  val RecordedGot: Vector[(String, Float)] = v(
    "https://site48.example/824/page.txt" -> 7.357486f,
    "https://site13.example/2438/page.txt" -> 7.272714f,
    "https://site46.example/46/page.txt" -> 7.226815f,
    "https://site50.example/3251/page.txt" -> 7.1224737f,
    "https://site24.example/2449/page.txt" -> 7.112399f,
    "https://site63.example/451/page.txt" -> 7.0363283f,
    "https://site29.example/3036/page.xhtml" -> 6.9286757f,
    "https://site10.example/1659/page.xhtml" -> 6.8865995f,
    "https://site14.example/305/page.txt" -> 6.729497f,
    "https://site18.example/2346/page.xhtml" -> 6.6608267f)

  def run(): Int = {
    val ulp = Math.nextUp(2.5f)
    val cases: Seq[(String, Vector[(String, Float)], Vector[(String, Float)],
        Boolean)] = Seq(
      ("equal scores permuted above the cut",
        v("b" -> 2f, "a" -> 2f, "c" -> 1f), v("a" -> 2f, "b" -> 2f, "c" -> 1f),
        true),
      ("another member of the tied group at the cut",
        v("a" -> 3f, "b" -> 2f, "e" -> 1f), v("a" -> 3f, "b" -> 2f, "c" -> 1f),
        true),
      ("last-ulp score difference",
        v("a" -> ulp, "b" -> 1f), v("a" -> 2.5f, "b" -> 1f), true),
      ("empty answer for an empty oracle", v(), v(), true),
      ("urls swapped between score groups",
        v("b" -> 5f, "a" -> 4f), v("a" -> 5f, "b" -> 4f), false),
      ("a tied-at-cut doc in place of a higher one",
        v("a" -> 3f, "c" -> 2f, "d" -> 1f), v("a" -> 3f, "b" -> 2f, "c" -> 1f),
        false),
      ("one result short", v("a" -> 3f), v("a" -> 3f, "b" -> 2f), false),
      ("score off by more than the tolerance",
        v("a" -> 2.5001f), v("a" -> 2.5f), false),
      ("recorded WAND failure: a higher-scoring doc missed",
        RecordedGot, RecordedWant, false))
    val bad = cases.filter { case (name, got, want, accept) =>
      val verdict = Check.topK(got, want)
      val ok = verdict.isEmpty == accept
      println(s"${if (ok) "ok  " else "FAIL"} $name" +
        verdict.fold("")(r => s" ($r)"))
      !ok
    }
    println(s"${cases.size - bad.size} of ${cases.size} comparator checks pass")
    if (bad.isEmpty) 0 else 1
  }
}
