package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Dense ids are the key's rank in sorted distinct order, whatever the
  * partition count and wherever the range partitioner puts its bounds.
  */
class DenseIdSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // 113 distinct keys, most of them repeated
  private val keys: Seq[String] =
    (0 until 400).map(i => s"k${(i * 7919) % 113}")
  private def ranks(distinct: Seq[String]): Seq[(String, Long)] =
    distinct.sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) }

  for (p <- Seq(1, 3, 7)) {
    test(s"assign: id = rank in sorted distinct order, duplicates numbered " +
        s"once (partitions = $p)") {
      val a = DenseId.assign(spark, keys.toDS(), p, idName = "tid",
        keyName = "term")
      try {
        assert(a.df.columns.toSeq == Seq("term", "tid"))
        assert(a.df.as[(String, Long)].collect().toSeq.sortBy(_._2) ==
          ranks(keys.distinct))
      } finally a.release()
    }

    test(s"assign: empty input numbers nothing (partitions = $p)") {
      val a = DenseId.assign(spark, Seq.empty[String].toDS(), p)
      try assert(a.df.count() == 0)
      finally a.release()
    }

    test(s"assignWithPayload: id = rank of the key, payload carried " +
        s"(partitions = $p)") {
      val rows = keys.distinct.map(k => (k, k.length))
      val a = DenseId.assignWithPayload(rows.toDS(), "_1", p)
      try assert(a.ds.collect().toSeq.sortBy(_._1) ==
        ranks(keys.distinct).map { case (k, id) => (id, (k, k.length)) })
      finally a.release()
    }
  }
}
