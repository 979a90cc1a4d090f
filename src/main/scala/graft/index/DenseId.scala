package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic dense id assignment: id = rank of the key in global sort
  * order (SURVEY.md §7.3). Scales to arbitrarily large key sets: a range
  * repartition + per-partition local indexes + a driver-side prefix sum of
  * partition counts (two narrow jobs) — NO single-partition window.
  *
  * Determinism: ids equal the key's global sorted rank regardless of where
  * the range partitioner places its boundaries, so sampling variance cannot
  * change the assignment.
  */
object DenseId {

  /** Result frame + a release hook for the internal persist (call after the
    * frame has been written / fully consumed).
    */
  final case class Assigned(df: DataFrame, release: () => Unit)

  /** Returns (key, id) for every distinct key of `keys`: the rank
    * assignment of [[assignWithPayload]] over the distinct keys.
    */
  def assign(
      spark: SparkSession,
      keys: Dataset[String],
      partitions: Int,
      idName: String = "id",
      keyName: String = "key"): Assigned = {
    import spark.implicits._
    val rows = assignWithPayload(keys.distinct(), "value", partitions)
    Assigned(rows.ds.toDF(idName, keyName).select(keyName, idName),
      rows.release)
  }

  /** Result rows + release hook for [[assignWithPayload]]. */
  final case class AssignedRows[T](ds: Dataset[(Long, T)], release: () => Unit)

  /** The rank assignment, fused with the row payload: range-sorts rows
    * (unique by `keyCol`) and attaches id = global sorted rank of the key,
    * carrying every other column through the sort — so callers that need
    * (id, payload) skip the join-back that `assign` forces (for the docs
    * stage that join was a corpus-sized sort-merge join).
    */
  def assignWithPayload[T](
      ds: Dataset[T],
      keyCol: String,
      partitions: Int)(implicit et: Encoder[T]): AssignedRows[T] = {
    implicit val encIdx: Encoder[(Int, Long, T)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, et)
    implicit val encOut: Encoder[(Long, T)] =
      Encoders.tuple(Encoders.scalaLong, et)
    import ds.sparkSession.implicits.newProductEncoder

    val sorted = ds
      .repartitionByRange(partitions, col(keyCol))
      .sortWithinPartitions(keyCol)
    val indexed: Dataset[(Int, Long, T)] = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var i = -1L
      it.map { t =>
        i += 1
        (pid, i, t)
      }
    }
    indexed.persist(StorageLevel.MEMORY_AND_DISK)

    val counts: Map[Int, Long] = indexed
      .groupBy(col("_1"))
      .agg(count(lit(1)).as("c"))
      .as[(Int, Long)]
      .collect()
      .toMap
    val maxPid = if (counts.isEmpty) -1 else counts.keys.max
    val offsets = new Array[Long](maxPid + 2)
    var acc = 0L
    var p = 0
    while (p <= maxPid) {
      offsets(p) = acc
      acc += counts.getOrElse(p, 0L)
      p += 1
    }
    val bOffsets = ds.sparkSession.sparkContext.broadcast(offsets)

    val out = indexed.map { case (pid, localIdx, t) =>
      (bOffsets.value(pid) + localIdx, t)
    }
    AssignedRows(out, () => { indexed.unpersist(); bOffsets.destroy() })
  }
}
