package graft.ros.etl

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase
import graft.ros.{Fixtures, MsgDefParser, RosSchemaMapper}
import graft.ros.bag.BagFormat
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** Per-type tables of a default bag conversion take their seqno from
  * the typed scan itself (`seqnoFrom`, stamped from the staged `_seqno`
  * map as each message is routed to its type) instead of a join.
  */
class SeqnoStampSpec extends SparkTestBase {

  private val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)
  private val ptDefV1 = "float64 x\nfloat64 y\n"
  private val ptDefV2 = "float64 x\nfloat64 y\nfloat64 z\n"
  private val perType = Seq("sensor_msgs_Imu", "test_msgs_Point__md5v1", "test_msgs_Point__md5v2")

  private def imuBytes(seq: Long, sec: Int, nsec: Int): Array[Byte] =
    RosSchemaMapper.encode(imuBundle, Seq[Any](seq, sec, nsec, s"f$seq",
      0.1, 0.2, 0.3, 0.4, Seq.tabulate(9)(_.toDouble),
      1.0, 2.0, 3.0, Seq.tabulate(9)(i => i * 2.0),
      seq * 0.5, 9.8, -9.8, Seq.tabulate(9)(i => i * 3.0)))

  /** One bag of `n` messages alternating IMU and test_msgs/Point in
    * 3-message lz4 chunks; its times overlap the other bags' (a
    * cross-bag interleave), and bag c's Point definition drifted.
    */
  private def writeBag(dir: Path, name: String, ptDef: String, md5: String,
      base: Int, n: Int = 14): String = {
    val withZ = ptDef == ptDefV2
    val pt = MsgDefParser.parse("test_msgs/Point", ptDef)
    val msgs = (0 until n).map { i =>
      val sec = base + i / 2
      if (i % 2 == 0) WriteMessage(0, sec, i, imuBytes(i.toLong, sec, i))
      else WriteMessage(1, sec, i, RosSchemaMapper.encode(pt,
        if (withZ) Seq(i * 1.0, i * 2.0, i * 3.0) else Seq(i * 1.0, i * 2.0)))
    }
    val p = dir.resolve(name)
    Files.write(p, BagFormat.writeBag(Seq(
      BagConnection(0, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n"),
      BagConnection(1, "/pt", "test_msgs/Point", md5, ptDef, "/n")),
      msgs, messagesPerChunk = 3, compression = "lz4"))
    p.toString
  }

  private lazy val fleet: Path = {
    val dir = Files.createTempDirectory("graft_stamp")
    writeBag(dir, "a.bag", ptDefV1, "md5v1", 1700000000)
    writeBag(dir, "b.bag", ptDefV1, "md5v1", 1700000003)
    writeBag(dir, "c.bag", ptDefV2, "md5v2", 1700000005)
    dir
  }

  private def freshOut(tag: String): String =
    Files.createTempDirectory(tag).toString + "/out"

  private def table(out: String, t: String): DataFrame = spark.read.parquet(s"$out/$t.parquet")

  /** Every plan node, through the adaptive and query-stage wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case w: DataWritingCommandExec => nodes(w.child)
    case other => other.children.flatMap(nodes)
  })

  test("a default conversion's per-type writes plan no join, broadcast or shuffle") {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { captured.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BagEtl.run(spark, fleet.toString, freshOut("graft_stamp_plan"))
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val writes = captured.asScala.toSeq.flatMap(qe => qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.getName.stripSuffix(".parquet") -> qe
    }).filter(w => perType.contains(w._1))
    assert(writes.map(_._1).sorted === perType)
    writes.foreach { case (t, qe) =>
      assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty, s"$t joins:\n${qe.optimizedPlan}")
      val all = nodes(qe.executedPlan)
      // self-check: the walk reaches the typed scan it polices
      assert(all.exists(_.isInstanceOf[BatchScanExec]), s"$t: no scan in\n${qe.executedPlan}")
      val exchanges = all.filter(n =>
        n.isInstanceOf[BroadcastExchangeExec] || n.isInstanceOf[ShuffleExchangeExec])
      assert(exchanges.isEmpty, s"$t:\n${qe.executedPlan}")
    }
  }

  test("default and stagedByType per-type tables are identical row for row, seqno included") {
    val scan = freshOut("graft_stamp_scan")
    val staged = freshOut("graft_stamp_staged")
    assert(BagEtl.run(spark, fleet.toString, scan).count === 42)
    assert(BagEtl.run(spark, fleet.toString, staged, stagedByType = true).count === 42)
    perType.foreach { t =>
      val (a, b) = (table(scan, t), table(staged, t))
      assert(a.schema.map(f => (f.name, f.dataType)) === b.schema.map(f => (f.name, f.dataType)), t)
      assert(a.count() > 0 && a.count() === b.count(), t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
    // every seqno of the per-type tables is Messages', once
    val typed = perType.map(t => table(scan, t).select("seqno")).reduce(_ union _)
    val messages = table(scan, "Messages").select("seqno")
    assert(typed.count() === 42 && typed.exceptAll(messages).isEmpty && messages.exceptAll(typed).isEmpty)
  }

  test("a _seqno missing one message's row fails the per-type write loudly") {
    val out = freshOut("graft_stamp_missing")
    val seqnoDir = s"$out/_seqno"
    val raw = spark.read.format("rosbag").load(fleet.toString)
      .select("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec")
    val spine = EtlCore.globalSeqno(raw, Seq(col("time_sec"), col("time_nsec"),
      col("bag_path"), col("chunk_idx"), col("offset")), 0L)
    BagEtl.stageSeqnoMap(spine, seqnoDir, groupRows = None)
    val imu = EtlCore.Variant("sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef,
      graft.ros.bag.RosbagIO.resolveBags(fleet.toString), "sensor_msgs_Imu")
    // intact map: every IMU message numbered
    assert(BagEtl.typedTable(spark, imu, seqnoDir, keepRawBlob = false,
      dropUnnumbered = false).count() === 21)
    // drop the _seqno row of one IMU message (the second in storage order)
    val victim = spark.read.format("rosbag").option("datatype", "sensor_msgs/Imu")
      .load(fleet.toString).select("bag_path", "chunk_idx", "offset").orderBy("bag_path", "chunk_idx", "offset")
      .limit(2).collect().last
    val kept = spark.read.parquet(seqnoDir).filter(!(col("bag_path") === victim.getString(0) &&
      col("chunk_idx") === victim.getInt(1) && col("offset") === victim.getInt(2)))
    assert(kept.count() === 41)
    BagEtl.stageSeqnoMap(kept, s"$out/_seqno_cut", groupRows = Some(4))
    val e = intercept[Exception] {
      BagEtl.typedTable(spark, imu, s"$out/_seqno_cut", keepRawBlob = false,
        dropUnnumbered = false).write.parquet(s"$out/imu.parquet")
    }
    assert(causeMessages(e).contains("has no row for the message at " +
      s"${victim.getString(0)} chunk ${victim.getInt(1)} offset ${victim.getInt(2)}"), causeMessages(e))
    // a row-limited run drops it instead (the join's contract)
    assert(BagEtl.typedTable(spark, imu, s"$out/_seqno_cut", keepRawBlob = false,
      dropUnnumbered = true).count() === 20)
  }

  test("routing reads only the row groups a chunk can be in, and they number it exactly") {
    import graft.ros.bag.{RosbagInputPartition, RosbagIO, RosbagSeqno, SeqnoRoutedPartition}
    val dir = freshOut("graft_stamp_route")
    val raw = spark.read.format("rosbag").load(fleet.toString)
      .select("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec")
    BagEtl.stageSeqnoMap(EtlCore.globalSeqno(raw, Seq(col("time_sec"), col("time_nsec"),
      col("bag_path"), col("chunk_idx"), col("offset")), 0L), dir, groupRows = Some(4))
    val files = RosbagSeqno.footers(dir)
    val groups = files.map(_.groups.size).sum
    assert(groups >= 10, s"$groups row groups")
    val staged = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("bag_path"), r.getAs[Int]("chunk_idx"), r.getAs[Int]("offset")) ->
        r.getAs[Long]("seqno")).toMap
    var checked = 0
    RosbagIO.scanIndexes(RosbagIO.resolveBags(fleet.toString)).foreach { case (bag, index) =>
      index.chunks.zipWithIndex.foreach { case (ch, i) =>
        val p = RosbagInputPartition(bag, i, ch, index.connections.map(c => c.connId -> c).toMap)
        val routed = RosbagSeqno.routeAll(dir, dropMissing = false, files, Array(p))
          .head.asInstanceOf[SeqnoRoutedPartition]
        assert(routed.route.map(_._2.length).sum < groups, s"chunk $i of $bag read every row group")
        val seqnos = RosbagSeqno.load(routed)(p)
        staged.collect { case ((b, c, off), s) if b == bag && c == i => (off, s) }.foreach {
          case (off, s) => assert(seqnos(off) === s); checked += 1 }
      }
    }
    assert(checked === 42)
  }

  test("an incremental append's Info equals the values read back from its slice") {
    val dir = Files.createTempDirectory("graft_stamp_incr")
    val out = freshOut("graft_stamp_incr_out")
    writeBag(dir, "a.bag", ptDefV1, "md5v1", 1700000000)
    assert(BagEtl.runIncremental(spark, dir.toString, out).count === 14)
    val c = writeBag(dir, "c.bag", ptDefV2, "md5v2", 1700000005, n = 9)
    val info = BagEtl.runIncremental(spark, dir.toString, out)
    val cPath = graft.ros.bag.RosbagIO.resolveBags(c).head
    val r = table(out, "Messages").filter(col("bag_path") === cPath)
      .agg(count(lit(1)), sum(col("size").cast("long")), expr("bit_xor(data_crc32)"),
        min(col("seqno")), max(col("seqno"))).head()
    assert(info.count === 9 && (info.count, info.sizeBytes, info.crcXor) ===
      ((r.getLong(0), r.getLong(1), r.getLong(2))))
    assert(r.getLong(3) === 14L && r.getLong(4) === 22L)
    assert(EtlCore.readCommitRecord(out).contains((22L, Seq.empty[String])))
    // an increment of one message-less bag observes an empty write
    Files.write(dir.resolve("d.bag"), BagFormat.writeBag(Seq(
      BagConnection(0, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
      Seq.empty, messagesPerChunk = 3))
    assert(BagEtl.runIncremental(spark, dir.toString, out) === BagEtl.Info(dir.getFileName.toString, 0L, 0L, 0L))
    assert(EtlCore.readCommitRecord(out).contains((22L, Seq.empty[String])))
  }
}
