package graft.ros.db3

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.ros.mcap.{CdrCodec, Ros2Msg}

class Db3EtlSpec extends SparkTestBase {

  private def freshOut(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag).toFile
    new java.io.File(d, "out").getAbsolutePath
  }

  private lazy val genuineDir: String = {
    val in = getClass.getResourceAsStream("/db3/genuine_rosbag2.db3")
    val bytes = try in.readAllBytes() finally in.close()
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_src")
    java.nio.file.Files.write(dir.resolve("a.db3"), bytes)
    dir.toString
  }

  /** `poisoned`: each String payload carries 8 trailing bytes — the
    * spine (which never decodes payloads) reads fine, and only the
    * String table's CDR decode fails.
    */
  private def writeFixture(dir: java.io.File, fname: String, imuDef: String,
      n: Int, t0: Long, poisoned: Boolean = false): Unit = {
    val sb = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuDef)
    val strB = Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val dims = imuDef.linesIterator.count(_.trim.nonEmpty)
    val rows = (0 until n).map { i =>
      val data =
        if (i % 2 == 0) CdrCodec.encode(sb, (0 until dims).map(k => i + k / 10.0))
        else CdrCodec.encode(strB, Seq(s"s$i")) ++
          (if (poisoned) Array.fill[Byte](8)(0x7f) else Array.emptyByteArray)
      Seq[Any](null, if (i % 2 == 0) 1L else 2L, t0 + i, data)
    }
    val db = SqliteFormat.writeDb(Seq(
      ("topics",
        "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/imu", "sensor_msgs/msg/Imu", "cdr", ""),
          Seq[Any](null, "/chatter", "std_msgs/msg/String", "cdr", ""))),
      ("messages",
        "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
        rows),
      ("message_definitions",
        "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        Seq(Seq[Any](null, "sensor_msgs/msg/Imu", "ros2msg", imuDef, "h1"),
          Seq[Any](null, "std_msgs/msg/String", "ros2msg", "string data", "h2")))))
    java.nio.file.Files.write(new java.io.File(dir, fname).toPath, db)
    ()
  }

  test("full run over the genuine fixture: spine, dimension, typed tables, raw retention, DDL") {
    val out = freshOut("graft_db3etl_out")
    val info = Db3Etl.run(spark, genuineDir, out, nativeTimestamp = true)
    assert(info.messages === 2000 && info.topics === 3)
    assert(info.tables === Map("sensor_msgs_msg_Imu" -> 999L,
      "std_msgs_msg_String" -> 1000L))
    val msgs = spark.read.parquet(s"$out/Messages.parquet")
    // dense global seqno in timestamp order
    val seqnos = msgs.orderBy("seqno").select("seqno", "timestamp").collect()
    assert(seqnos.map(_.getLong(0)).toSeq === (0L until 2000L))
    assert(seqnos.map(_.getLong(1)).toSeq === seqnos.map(_.getLong(1)).sortBy(identity).toSeq)
    // NTZ micros floor of the nanosecond timestamps
    val ts = msgs.orderBy("seqno").limit(1)
      .select(unix_micros(col("timestamp_ts").cast("timestamp"))).head().getLong(0)
    assert(ts === 1700000000000000000L / 1000L)
    // typed values decoded through the definitions table
    val imu = spark.read.parquet(s"$out/sensor_msgs_msg_Imu.parquet")
    assert(imu.schema.fieldNames.contains("x") && imu.schema.fieldNames.contains("y"))
    val first = imu.orderBy("seqno").limit(2).collect()
    first.foreach { r =>
      val i = r.getAs[Long]("msg_id") - 1
      assert(r.getAs[Double]("x") === i.toDouble && r.getAs[Double]("y") === i / 2.0)
    }
    // the /bulk message (no definition for its type) is retained raw
    val raw = spark.read.parquet(s"$out/RawMessages.parquet").collect()
    assert(raw.length === 1)
    assert(raw.head.getAs[String]("type") === "test_msgs/msg/Bulk")
    assert(raw.head.getAs[Array[Byte]]("data").length === 20000)
    val ddl = scala.io.Source.fromFile(s"$out/vertica_load_tables.sql").mkString
    assert(ddl.contains("sensor_msgs_msg_Imu") && ddl.contains("RawMessages"))
    // spine CRC folds over every payload
    assert(info.crcXor !== 0L)
  }

  test("definition drift across files namespaces the typed tables by md5") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_drift").toFile
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    writeFixture(dir, "b.db3", "float64 x\nfloat64 y\nfloat64 z\n", 4, 200L)
    val out = freshOut("graft_db3etl_drift_out")
    val info = Db3Etl.run(spark, dir.getAbsolutePath, out)
    // two Imu variants (namespaced) + one String table
    val imuTables = info.tables.keys.filter(_.startsWith("sensor_msgs_msg_Imu"))
    assert(imuTables.size === 2 && imuTables.forall(_.contains("__")))
    assert(info.tables("std_msgs_msg_String") === 5L)
    assert(info.tables.values.sum === 10L)
    // the 3-field variant carries z, the 2-field one does not
    val withZ = imuTables.find { t =>
      spark.read.parquet(s"$out/$t.parquet").schema.fieldNames.contains("z") }
    assert(withZ.isDefined)
  }

  test("runIncremental appends new files with continuing seqnos and stable naming; no-op when quiescent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_incr").toFile
    val out = freshOut("graft_db3etl_incr_out")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    val first = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(first.messages === 6)
    writeFixture(dir, "b.db3", "float64 x\nfloat64 y\n", 4, 200L)
    val second = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(second.messages === 4)
    val msgs = spark.read.parquet(s"$out/Messages.parquet")
    assert(msgs.count() === 10)
    assert(msgs.select("seqno").collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    // same definition → same table, grown
    assert(spark.read.parquet(s"$out/sensor_msgs_msg_Imu.parquet").count() === 5)
    val third = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(third.messages === 0L && third.tables.isEmpty)
  }

  test("a file carrying a type it does not define routes those rows to RawMessages") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_nodef").toFile
    // file A: Humble-style, defines Imu; file B: pre-Humble (no
    // message_definitions table) carrying the same type
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 4, 100L)
    val sb = Ros2Msg.bundle("sensor_msgs/msg/Imu", "float64 x\nfloat64 y\n")
    val rowsB = (0 until 3).map { i =>
      Seq[Any](null, 1L, 500L + i, CdrCodec.encode(sb, Seq(i * 9.0, i * 7.0)))
    }
    val dbB = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/imu", "sensor_msgs/msg/Imu", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rowsB)))
    java.nio.file.Files.write(new java.io.File(dir, "b.db3").toPath, dbB)
    val out = freshOut("graft_db3etl_nodef_out")
    val info = Db3Etl.run(spark, dir.getAbsolutePath, out)
    assert(info.messages === 7)
    // A's Imu rows typed (2 of 4), A's String rows typed, B's 3 Imu
    // rows retained raw — NOT silently dropped
    assert(info.tables("sensor_msgs_msg_Imu") === 2L)
    val raw = spark.read.parquet(s"$out/RawMessages.parquet").collect()
    assert(raw.length === 3)
    assert(raw.forall(_.getAs[String]("type") === "sensor_msgs/msg/Imu"))
    val want = rowsB.map(_(3).asInstanceOf[Array[Byte]].toSeq).toSet
    assert(raw.map(_.getAs[Array[Byte]]("data").toSeq).toSet === want)
  }

  test("a definition with an incomplete dependency closure falls back to raw, not a sunk run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_unres").toFile
    val badDef = "geometry_msgs/Vector3 vel\n" // closure missing Vector3
    val rows = (0 until 3).map(i =>
      Seq[Any](null, 1L, 100L + i, Array.tabulate(8)(j => (i * 8 + j).toByte)))
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/t", "graft_msgs/msg/Broken", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows),
      ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        Seq(Seq[Any](null, "graft_msgs/msg/Broken", "ros2msg", badDef, "h")))))
    java.nio.file.Files.write(new java.io.File(dir, "a.db3").toPath, db)
    val out = freshOut("graft_db3etl_unres_out")
    val info = Db3Etl.run(spark, dir.getAbsolutePath, out)
    assert(info.messages === 3 && info.tables.isEmpty)
    assert(spark.read.parquet(s"$out/RawMessages.parquet").count() === 3)
  }

  test("leftover staging dirs from a hard crash do not fail the redo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_redo").toFile
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 4, 100L)
    val out = freshOut("graft_db3etl_redo_out")
    // simulate a crashed prior attempt: staging dirs exist, no Messages
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$out/_stage")
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$out/_seqno")
    val info = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(info.messages === 4)
  }

  test("maxMessages bounds the conversion scope") {
    val out = freshOut("graft_db3etl_lim_out")
    val info = Db3Etl.run(spark, genuineDir, out, maxMessages = Some(10L))
    assert(info.messages === 10)
  }

  test("Topics is the commit record: a crash between the Messages and Topics writes redoes the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_crash").toFile
    val out = freshOut("graft_db3etl_crash_out")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    val first = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(first.messages === 6)
    // simulate the crash window: Messages landed, Topics did not.
    // Pre-round-10 (done-set = Messages ∪ Topics) this file was
    // considered done and the Topics hole was PERMANENT; Topics-only
    // redoes it, and repairCrashedIncrement purges the dead attempt's
    // rows first — the redo is exactly-once (ADVICE r10: no
    // consumer-side dropDuplicates contract).
    val topicsPath = new org.apache.hadoop.fs.Path(s"$out/Topics.parquet")
    topicsPath.getFileSystem(Db3IO.hadoopConf()).delete(topicsPath, true)
    val redo = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(redo.messages === 6, "the file must be redone, not silently skipped")
    val topics = spark.read.parquet(s"$out/Topics.parquet")
    assert(topics.count() === 2, "the Topics dimension is restored")
    val msgs = spark.read.parquet(s"$out/Messages.parquet")
    assert(msgs.count() === 6, "the dead attempt's rows are purged, not duplicated")
    assert(msgs.select("seqno").distinct().count() === 6)
    assert(msgs.agg(max(col("seqno"))).head().getLong(0) === 5L,
      "the dead increment's seqno range is re-used — dense, no gap")
    // per-type tables repaired to exactly-once as well
    assert(spark.read.parquet(s"$out/sensor_msgs_msg_Imu.parquet").count() === 3)
    assert(spark.read.parquet(s"$out/std_msgs_msg_String.parquet").count() === 3)
    // quiescent again once Topics is present
    val third = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(third.messages === 0L)
  }

  test("crash BEFORE the Messages write: orphan per-type rows are purged on redo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_crash2").toFile
    val out = freshOut("graft_db3etl_crash2_out")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    assert(Db3Etl.runIncremental(spark, dir.getAbsolutePath, out).messages === 6)
    // second increment dies after its per-type writes, before Messages
    // and Topics: simulate by appending a counterfeit orphan batch to
    // one per-type table with seqnos past the committed max
    writeFixture(dir, "b.db3", "float64 x\nfloat64 y\n", 4, 200L)
    import spark.implicits._
    val imu = s"$out/sensor_msgs_msg_Imu.parquet"
    val before = spark.read.parquet(imu)
    val orphan = before.limit(2).withColumn("seqno", col("seqno") + lit(100L))
    orphan.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(imu)
    val redo = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    assert(redo.messages === 4)
    val after = spark.read.parquet(imu)
    assert(after.count() === 5, "orphan per-type rows purged, b.db3's 2 appended")
    assert(after.agg(max(col("seqno"))).head().getLong(0) < 100L + 6L,
      "orphan seqnos are gone; redo continues densely after the committed max")
    val msgs = spark.read.parquet(s"$out/Messages.parquet")
    assert(msgs.select("seqno").distinct().count() === msgs.count())
  }

  private def exists(path: String): Boolean = new java.io.File(path).exists()

  test("a poisoned per-variant decode leaves no Topics; the crashed bootstrap's redo matches a clean run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_poison").toFile
    val out = freshOut("graft_db3etl_poison_out")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L, poisoned = true)
    intercept[Exception](Db3Etl.runIncremental(spark, dir.getAbsolutePath, out))
    assert(!exists(s"$out/Topics.parquet"))
    assert(!exists(s"$out/_stage") && !exists(s"$out/_seqno"), "staging dirs dropped on failure")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    val redo = Db3Etl.runIncremental(spark, dir.getAbsolutePath, out)
    val clean = freshOut("graft_db3etl_poison_clean")
    val ref = Db3Etl.runIncremental(spark, dir.getAbsolutePath, clean)
    assert(redo.messages === 6 && redo.messages === ref.messages && redo.tables === ref.tables)
    graft.ros.etl.EtlRedoCheck.assertMatchesClean(spark, out, clean, "Topics")
  }

  test("a poisoned per-variant decode in an increment commits nothing; the redo is exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db3etl_poison2").toFile
    val out = freshOut("graft_db3etl_poison2_out")
    writeFixture(dir, "a.db3", "float64 x\nfloat64 y\n", 6, 100L)
    assert(Db3Etl.runIncremental(spark, dir.getAbsolutePath, out).messages === 6)
    writeFixture(dir, "b.db3", "float64 x\nfloat64 y\n", 4, 200L, poisoned = true)
    intercept[Exception](Db3Etl.runIncremental(spark, dir.getAbsolutePath, out))
    val topicFiles = spark.read.parquet(s"$out/Topics.parquet").select("file_path")
      .distinct().collect().map(_.getString(0).split('/').last).toSeq
    assert(topicFiles === Seq("a.db3"), "the failed increment is not committed")
    assert(!exists(s"$out/_stage") && !exists(s"$out/_seqno"), "staging dirs dropped on failure")
    writeFixture(dir, "b.db3", "float64 x\nfloat64 y\n", 4, 200L)
    assert(Db3Etl.runIncremental(spark, dir.getAbsolutePath, out).messages === 4)
    val clean = freshOut("graft_db3etl_poison2_clean")
    assert(Db3Etl.runIncremental(spark, dir.getAbsolutePath, clean).messages === 10)
    graft.ros.etl.EtlRedoCheck.assertMatchesClean(spark, out, clean, "Topics")
  }
}
