package graft.ros.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** The exactly-once check behind the ETL crash specs: an output redone
  * after a failed attempt must equal a clean conversion of the same
  * (repaired) input — same table set, same per-table row counts, a
  * dense `Messages.seqno` 0..n-1 and the same DDL script, which holds a
  * CREATE for every per-variant table.
  */
object EtlRedoCheck {
  private def tables(out: String): Seq[String] =
    Paths.get(out).toFile.list().toSeq.filter(_.endsWith(".parquet")).sorted

  private def ddl(out: String): String =
    new String(Files.readAllBytes(Paths.get(s"$out/vertica_load_tables.sql")),
      java.nio.charset.StandardCharsets.UTF_8)

  def assertMatchesClean(spark: SparkSession, redo: String, clean: String,
      dimension: String): Unit = {
    assert(tables(redo) === tables(clean))
    tables(clean).foreach { t =>
      assert(spark.read.parquet(s"$redo/$t").count() === spark.read.parquet(s"$clean/$t").count(), t)
    }
    val n = spark.read.parquet(s"$clean/Messages.parquet").count()
    val seqnos = spark.read.parquet(s"$redo/Messages.parquet").select("seqno")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqnos === (0L until n), "dense seqno, no debris and no gap")
    assert(ddl(redo) === ddl(clean))
    tables(clean).map(_.stripSuffix(".parquet"))
      .filterNot(Set("Messages", dimension))
      .foreach(t => assert(ddl(redo).contains(s"CREATE TABLE $t ("), t))
  }
}
