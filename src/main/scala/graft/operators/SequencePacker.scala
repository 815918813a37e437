package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField}

/** Token-budget sequence packing as a segmented prefix sum — the
  * scale-correct form of "next-fit by cumulative offset" binning.
  *
  * The window formulation (`sum(nt) over (partition by source order by
  * doc_id)`) funnels each source through ONE task, so parallelism is
  * capped at #sources — fatal when one source holds terabytes. This
  * operator is the [[OmniPipeline.stamp]] pattern applied to a SEGMENTED
  * running sum: range-partition by (source, doc_id) so a giant source
  * spans many partitions, take per-(partition, source) token totals in
  * one lightweight pass (metadata-scale: ≤ #partitions + #sources rows
  * reach the driver, like the stamper's counts), prefix-sum those on
  * the driver into per-partition starting offsets, then assign each
  * doc's bin = ⌊(its source-running offset)/budget⌋ in a second fully
  * parallel pass. Identical output to the window form for any total
  * order — proven row-for-row in `OperatorEquivalenceSpec`.
  */
object SequencePacker {

  /** Input `df` must have columns (source: String, doc_id: Long,
    * nt: Long); returns the same rows plus `bin` — the token-budget
    * bin index within the doc's source, by (source, doc_id) order.
    */
  def assignBins(df: DataFrame, budget: Long): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(col("source"), col("doc_id"), col("nt"))
      .repartitionByRange(col("source"), col("doc_id"))
      .sortWithinPartitions("source", "doc_id")
    val rdd = sorted.rdd
    rdd.cache()
    try {
      // pass 1: per-partition, per-source token totals
      val partTotals: Array[Array[(String, Long)]] =
        rdd.mapPartitions { it =>
          val m = scala.collection.mutable.LinkedHashMap[String, Long]()
          it.foreach { r =>
            val s = r.getString(0)
            m.update(s, m.getOrElse(s, 0L) + r.getLong(2))
          }
          Iterator.single(m.toArray)
        }.collect()
      // driver prefix sum: offset of each (partition, source) = tokens of
      // that source in all earlier partitions
      val running = scala.collection.mutable.Map[String, Long]()
      val offsets: Array[Map[String, Long]] = partTotals.map { totals =>
        val here = totals.map { case (s, t) =>
          val off = running.getOrElse(s, 0L)
          running.update(s, off + t)
          s -> off
        }.toMap
        here
      }
      val bOffsets = spark.sparkContext.broadcast(offsets)
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+ StructField("bin", LongType, nullable = false))
      val out = rdd.mapPartitionsWithIndex { (pid, it) =>
        val off = scala.collection.mutable.Map[String, Long](
          bOffsets.value(pid).toSeq: _*)
        it.map { r =>
          val s = r.getString(0)
          val nt = r.getLong(2)
          val start = off.getOrElse(s, 0L)
          off.update(s, start + nt)
          Row(s, r.getLong(1), nt, start / budget)
        }
      }
      val result = spark.createDataFrame(out, schema)
      // materialize before releasing the cached lineage; the persist is
      // query-scoped (CacheScope) so runners release it after the action
      graft.CacheScope.persist(result)
      result.count()
      result
    } finally rdd.unpersist(blocking = false)
  }
}
