package perfbench

/** Compares an engine top-k against the oracle's top-k.
  *
  * Scores must match rank by rank within a relative 1e-5 (the engine sums
  * term contributions in termId order, the oracle in term byte order, so the
  * last bits may differ). Urls must match as a set within every score group
  * above the k-th score: inside a group the engine breaks ties by docId and
  * the oracle by url, and at the cut either side may keep any member of the
  * tied group.
  */
object Check {
  val RelTol = 1e-5

  def close(a: Float, b: Float): Boolean =
    math.abs(a.toDouble - b.toDouble) <=
      RelTol * math.max(math.abs(a.toDouble), math.abs(b.toDouble)) + 1e-30

  /** None when `got` is an acceptable answer for `want`, else the reason. */
  def topK(
      got: Seq[(String, Float)], want: Seq[(String, Float)]): Option[String] = {
    if (got.length != want.length)
      return Some(s"${got.length} results, oracle has ${want.length}")
    val bad = got.indices.find(i => !close(got(i)._2, want(i)._2))
    if (bad.isDefined) {
      val i = bad.get
      return Some(s"rank ${i + 1}: score ${got(i)._2}, oracle ${want(i)._2}")
    }
    if (want.isEmpty) return None
    val cut = want.last._2
    // groups of consecutive oracle ranks with equal (within tolerance) score
    var i = 0
    while (i < want.length) {
      var j = i + 1
      while (j < want.length && close(want(j)._2, want(i)._2)) j += 1
      if (!close(want(i)._2, cut)) {
        val g = got.slice(i, j).map(_._1).toSet
        val w = want.slice(i, j).map(_._1).toSet
        if (g != w)
          return Some(s"ranks ${i + 1}-$j: urls ${(g -- w).mkString(",")} " +
            s"in place of ${(w -- g).mkString(",")}")
      }
      i = j
    }
    None
  }
}
