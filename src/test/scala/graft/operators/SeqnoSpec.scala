package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** `Seqno.globalSeqno` must number rows densely 0..n-1 in sort order
  * however the range shuffle is partitioned: AQE-coalesced (no
  * `numPartitions`), fixed by AQE being off, or pinned by the caller.
  */
class SeqnoSpec extends SparkTestBase {

  /** 20k rows, 90% of them on ONE timestamp (the unique `id` breaks
    * ties), arriving in scrambled order over 8 partitions.
    */
  private def skewed: DataFrame =
    spark.range(0, 20000, 1, 8)
      .select(col("id"), when(col("id") % 10 =!= 0, lit(5L)).otherwise(col("id")).as("ts"))
      .repartition(8, xxhash64(col("id")))

  private val sortCols = Seq(col("ts"), col("id"))

  /** id -> 0-based row_number() over the same order: the serial counter. */
  private def oracle(df: DataFrame): Map[Long, Long] =
    df.withColumn("rn", (row_number().over(Window.orderBy(sortCols: _*)) - 1).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def numbering(df: DataFrame): Map[Long, Long] =
    df.select("id", "seqno").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no numPartitions, AQE on: coalesced range partitions, dense oracle numbering") {
    withConfs("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "32") {
      val df = skewed
      val out = Seqno.globalSeqno(df, sortCols)
      val parts = out.rdd.getNumPartitions
      assert(parts < 32, s"AQE left all $parts range partitions uncoalesced")
      val got = numbering(out)
      assert(got.size === 20000)
      assert(got.values.toSeq.sorted === (0L until 20000L))
      assert(got === oracle(df))
    }
  }

  test("no numPartitions, AQE off: dense oracle numbering") {
    withConfs("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "32") {
      val df = skewed
      val got = numbering(Seqno.globalSeqno(df, sortCols))
      assert(got.values.toSeq.sorted === (0L until 20000L))
      assert(got === oracle(df))
    }
  }

  test("numPartitions = Some(n) keeps exactly n partitions under AQE") {
    withConfs("spark.sql.adaptive.enabled" -> "true") {
      val df = skewed
      val out = Seqno.globalSeqno(df, sortCols, numPartitions = Some(7))
      assert(out.rdd.getNumPartitions === 7)
      assert(numbering(out) === oracle(df))
    }
  }
}
