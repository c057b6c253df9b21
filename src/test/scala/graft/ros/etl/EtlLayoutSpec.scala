package graft.ros.etl

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ros.{Fixtures, MsgDefParser, RosMd5, RosSchemaMapper}
import graft.ros.bag.BagFormat
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** File layout of a default `BagEtl.run` on a multi-type lz4 bag: each
  * per-type table is written with as many tasks as its own bytes need
  * (never more than its typed scan planned), and `Messages` files hold
  * ascending seqno ranges. The content is the typed scan's, row for row.
  */
class EtlLayoutSpec extends SparkTestBase {

  private val strDef = "string data"
  private val imgBundle = MsgDefParser.parse("sensor_msgs/CompressedImage",
    EtlBench.compressedImageDef)
  private val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)
  private val strBundle = MsgDefParser.parse("std_msgs/String", strDef)

  private val types = Seq(
    "sensor_msgs/CompressedImage" -> "sensor_msgs_CompressedImage",
    "sensor_msgs/Imu" -> "sensor_msgs_Imu",
    "std_msgs/String" -> "std_msgs_String")

  private def imuBytes(seq: Long, sec: Int, nsec: Int): Array[Byte] =
    RosSchemaMapper.encode(imuBundle, Seq[Any](
      seq, sec, nsec, "imu",
      0.1, 0.2, 0.3, 0.4, Seq.tabulate(9)(_.toDouble),
      1.0, 2.0, 3.0, Seq.tabulate(9)(i => i * 2.0),
      seq * 0.5, 9.8, -9.8, Seq.tabulate(9)(i => i * 3.0)))

  /** 40 s at 10 Hz: 4 KB camera frames at 5 Hz (~0.8 MB, the one type
    * big enough for several write tasks), IMU at 10 Hz (~0.13 MB) and
    * a string topic every 4 s, in 20-message lz4 chunks.
    */
  private lazy val bag: String = {
    val conns = Seq(
      BagConnection(0, "/cam", "sensor_msgs/CompressedImage",
        RosMd5.compute("sensor_msgs/CompressedImage", EtlBench.compressedImageDef),
        EtlBench.compressedImageDef, "/cam"),
      BagConnection(1, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/imu"),
      BagConnection(2, "/log", "std_msgs/String",
        RosMd5.compute("std_msgs/String", strDef), strDef, "/log"))
    val msgs = (0 until 400).flatMap { i =>
      val sec = 1700000000 + i / 10
      val nsec = (i % 10) * 100000000
      val img = if (i % 2 == 0) Seq(WriteMessage(0, sec, nsec,
        RosSchemaMapper.encode(imgBundle, Seq[Any](i.toLong, sec, nsec, "cam", "jpeg",
          Array.tabulate(4096)(j => (i * 31 + j).toByte))))) else Nil
      val log = if (i % 40 == 0) Seq(WriteMessage(2, sec, nsec + 2,
        RosSchemaMapper.encode(strBundle, Seq[Any](s"tick $i")))) else Nil
      img ++ Seq(WriteMessage(1, sec, nsec + 1, imuBytes(i.toLong, sec, nsec + 1))) ++ log
    }
    val p = Files.createTempFile("graft_layout", ".bag")
    Files.write(p, BagFormat.writeBag(conns, msgs, messagesPerChunk = 20,
      compression = "lz4"))
    p.toString
  }
  private val nMessages = 200 + 400 + 10

  private lazy val out: String =
    Files.createTempDirectory("graft_layout_out").toString + "/out"
  private lazy val etlInfo: BagEtl.Info = BagEtl.run(spark, bag, out)

  private def dataFiles(table: String): Seq[String] =
    new java.io.File(s"$out/$table.parquet").listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted.toSeq

  private def typedScan(datatype: String) =
    spark.read.format("rosbag").option("datatype", datatype)
      .option("includeRaw", "true").load(bag)

  test("small types are one file; no per-type table has more files than its scan planned") {
    assert(etlInfo.count === nMessages)
    assert(dataFiles("sensor_msgs_Imu").size === 1)
    assert(dataFiles("std_msgs_String").size === 1)
    types.foreach { case (dt, table) =>
      val planned = typedScan(dt).rdd.getNumPartitions
      val files = dataFiles(table).size
      assert(files >= 1 && files <= planned, s"$table: $files files, scan planned $planned")
    }
    // the byte-heavy type is split, but far below one file per scan partition
    val img = dataFiles("sensor_msgs_CompressedImage").size
    assert(img > 1 && img < typedScan("sensor_msgs/CompressedImage").rdd.getNumPartitions,
      s"camera table written as $img files")
  }

  test("Messages files hold ascending, dense seqno ranges") {
    assert(etlInfo.count === nMessages)
    val files = dataFiles("Messages")
    assert(files.size <= spark.sessionState.conf.numShufflePartitions)
    val ranges = EtlCore.footerSeqnoRanges(s"$out/Messages.parquet").get.toOption.get
      .sortBy(r => new org.apache.hadoop.fs.Path(r._1).getName)
    assert(ranges.size === files.size)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 < b._2, s"file ranges overlap or descend: $a then $b")
      case _ =>
    }
    val m = spark.read.parquet(s"$out/Messages.parquet")
      .agg(count(lit(1)), countDistinct(col("seqno")), min(col("seqno")), max(col("seqno")))
      .head()
    assert(m.getLong(0) === nMessages && m.getLong(1) === nMessages &&
      m.getLong(2) === 0L && m.getLong(3) === nMessages - 1L)
  }

  test("per-type tables hold exactly the typed scan's rows") {
    assert(etlInfo.count === nMessages)
    types.foreach { case (dt, table) =>
      val t = spark.read.parquet(s"$out/$table.parquet")
      val cols = t.columns.filterNot(_ == "seqno").map(col).toSeq
      val scan = typedScan(dt).select(cols: _*)
      val mine = t.select(cols: _*)
      assert(mine.count() === scan.count(), table)
      assert(mine.exceptAll(scan).isEmpty && scan.exceptAll(mine).isEmpty, table)
      assert(t.select("seqno").distinct().count() === t.count(), s"$table seqno unique")
    }
  }

  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a conversion runs no seqno join job per per-type table and no Info read-back") {
    assert(etlInfo.count === nMessages)   // not the JVM's first conversion
    val jobs = countJobs {
      BagEtl.run(spark, bag, Files.createTempDirectory("graft_layout_jobs").toString + "/out")
    }
    // 16 with a broadcast-joined seqno map per table and a Messages
    // read-back for Info
    assert(jobs === 16 - types.size - 2)
  }

  test("maxMessages: per-type seqnos are a subset of Messages' with the join's counts") {
    for ((n, expected) <- Seq(100L -> Seq(33L, 65L, 2L), 250L -> Seq(82L, 163L, 5L))) {
      val o = Files.createTempDirectory("graft_layout_max").toString + "/out"
      assert(BagEtl.run(spark, bag, o, maxMessages = Some(n)).count === n)
      val messages = spark.read.parquet(s"$o/Messages.parquet").select("seqno")
      val perType = types.map { case (_, t) => spark.read.parquet(s"$o/$t.parquet").select("seqno") }
      assert(perType.map(_.count()) === expected, s"maxMessages $n")
      assert(perType.reduce(_ union _).exceptAll(messages).isEmpty, s"maxMessages $n")
    }
  }
}
