package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Dense 0-based global sequence numbering in a total order — the Spark
  * re-expression of the reference's serial `m_seqno` counter
  * (reference FlattenedRosWriter.h:31, FlattenedRosWriter.cpp:195,256;
  * semantics README.md:119-121).
  *
  * A single `row_number() OVER (ORDER BY ...)` collapses the data onto
  * one partition, which is a non-starter at 100 TB. Instead:
  *
  *  1. range-partition + sort-within-partitions by the sort key
  *     (parallel, one shuffle). With no `numPartitions` the partition
  *     count is left to Spark, so AQE may merge ADJACENT range
  *     partitions into right-sized ones (ranges stay ordered, so the
  *     numbering is unchanged); `Some(n)` pins exactly `n`,
  *  2. pin ONE physical plan by materialising the RDD — the range
  *     bounds are sampled exactly once and the shuffle output is
  *     reused by every subsequent job on this RDD (re-planning a
  *     DataFrame per action would re-sample different bounds, which
  *     silently mis-numbers rows),
  *  3. `zipWithIndex`: a metadata-sized count job over the sorted
  *     shuffle output, then per-partition offset + local index.
  *
  * The result is identical to the serial counter for any total order
  * (callers must include a unique tie-break column). Cost: one range
  * shuffle + one count-only pass over shuffle files; never a
  * single-partition stage.
  */
object Seqno {
  def globalSeqno(df: DataFrame, sortCols: Seq[Column], out: String = "seqno",
                  numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val ranged = numPartitions match {
      case Some(n) => df.repartitionByRange(n, sortCols: _*)
      case None => df.repartitionByRange(sortCols: _*)
    }
    val sorted = ranged.sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    // .rdd fixes the physical plan (and therefore the sampled range
    // bounds and AQE's coalesced partition specs) once; zipWithIndex's
    // count job and the main job both read the same shuffle output.
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema)
  }
}
