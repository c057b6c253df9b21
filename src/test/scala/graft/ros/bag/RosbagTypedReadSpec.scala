package graft.ros.bag

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class RosbagTypedReadSpec extends SparkTestBase {
  test("typed in-place read: flattened schema, values, pruning, filters") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()   // 100 msgs, 2 conns, Imu
    val df = spark.read.format("rosbag")
      .option("datatype", "sensor_msgs/Imu").load(bag)
    // schema: meta ++ flattened Imu fields, no raw blob by default
    assert(df.schema.fieldNames.take(6).toSeq ==
      Seq("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec", "connection_id"))
    assert(df.schema.fieldNames.contains("header_frame_id"))
    assert(!df.schema.fieldNames.contains("data"))
    assert(df.count() == 100)
    // decoded values present and queryable without any ETL
    val agg = df.groupBy(col("connection_id"))
      .agg(count(lit(1)).as("n"), max(col("linear_acceleration_x")).as("mx"))
      .orderBy("connection_id").collect()
    assert(agg.map(_.getLong(1)).toSeq == Seq(50L, 50L))
    // pushed meta filter halves the read
    assert(df.filter(col("time_sec") >= 1700000025).count() == 50)
    // includeRaw variant round-trips the blob
    val withRaw = spark.read.format("rosbag")
      .option("datatype", "sensor_msgs/Imu").option("includeRaw", "true").load(bag)
    assert(withRaw.schema.fieldNames.last == "data")
    assert(withRaw.select("data").head().getAs[Array[Byte]](0).nonEmpty)
  }

  test("typed read uses the vectorized columnar reader (plan + values)") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()
    val df = spark.read.format("rosbag")
      .option("datatype", "sensor_msgs/Imu").option("includeRaw", "true").load(bag)
    // all Imu columns (scalars, strings, float64[9] arrays, raw blob) are
    // columnar-supported, so the scan must report columnar and the plan
    // carries a ColumnarToRow transition
    assert(RosbagColumnarRead.supportsColumnar(df.schema))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar scan in:\n$plan")
    // values through the columnar decode match the row decode exactly:
    // re-decode each raw blob with the interpreted mapper and compare
    val bundle = RosbagTypedRead.bundleFor(bag, "sensor_msgs/Imu")
    val flat = graft.ros.RosSchemaMapper.flatSchema(bundle)
    val cols = flat.fieldNames.toSeq
    df.orderBy("chunk_idx", "offset").collect().foreach { r =>
      val expected = graft.ros.RosSchemaMapper.decode(bundle, r.getAs[Array[Byte]]("data"))
      cols.zip(expected).foreach { case (name, exp) =>
        val got = r.getAs[Any](name)
        (got, exp) match {
          case (g: scala.collection.Seq[_], e: scala.collection.Seq[_]) =>
            assert(g.toSeq == e.toSeq, s"column $name")
          case (g, e) => assert(g == e, s"column $name")
        }
      }
    }
  }

  test("columnar string decode sanitizes invalid UTF-8 identically to the row path") {
    // hand-built message for `string s`: length prefix + bytes with a
    // bare 0xE9 (latin-1) that is NOT valid UTF-8
    val payload = Array[Byte](3, 0, 0, 0, 'a'.toByte, 0xE9.toByte, 'b'.toByte)
    val conn = BagFormat.BagConnection(0, "/s", "test_msgs/S", "md5s", "string s\n", "/n")
    val bag = java.nio.file.Files.createTempFile("utf8", ".bag")
    java.nio.file.Files.write(bag, BagFormat.writeBag(Seq(conn),
      Seq(BagFormat.WriteMessage(0, 1700000000, 0, payload)), messagesPerChunk = 4))
    val df = spark.read.format("rosbag")
      .option("datatype", "test_msgs/S").load(bag.toString)
    assert(RosbagColumnarRead.supportsColumnar(df.select("s").schema))
    val got = df.select("s").head().getString(0)
    val expected = new String(Array[Byte]('a'.toByte, 0xE9.toByte, 'b'.toByte),
      java.nio.charset.StandardCharsets.UTF_8)   // a, U+FFFD, b
    assert(got == expected)
    assert(got.contains('�'))
  }

  test("columnar string decode bound-checks the length prefix before reading") {
    // `string s` whose length prefix claims 1 MiB over a 2-byte body:
    // the zero-copy UTF-8 check must not read past the payload
    val payload = Array[Byte](0, 0, 16, 0, 'a'.toByte, 'b'.toByte)
    val conn = BagFormat.BagConnection(0, "/s", "test_msgs/S", "md5s", "string s\n", "/n")
    val bag = java.nio.file.Files.createTempFile("overlong", ".bag")
    java.nio.file.Files.write(bag, BagFormat.writeBag(Seq(conn),
      Seq(BagFormat.WriteMessage(0, 1700000000, 0, payload)), messagesPerChunk = 4))
    val df = spark.read.format("rosbag")
      .option("datatype", "test_msgs/S").load(bag.toString)
    assert(RosbagColumnarRead.supportsColumnar(df.select("s").schema))
    val e = intercept[Exception](df.select("s").collect())
    assert(causeMessages(e).contains("string length 1048576 overruns the 2 bytes left"))
  }

  test("typed read of unknown datatype fails loudly") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()
    val e = intercept[Exception] {
      spark.read.format("rosbag").option("datatype", "nope/Nope").load(bag).count()
    }
    assert(e.getMessage.contains("nope/Nope"))
  }

  test("typed STREAMING read decodes payload columns (regression)") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()
    val stream = spark.readStream.format("rosbag")
      .option("datatype", "sensor_msgs/Imu").load(bag)
      .select("connection_id", "header_frame_id")
    val q = stream.writeStream.format("memory").queryName("typedtail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val t = spark.table("typedtail")
    assert(t.count() == 100)
    assert(t.select("header_frame_id").head().getString(0).startsWith("f"))
  }

  test("option keys are case-insensitive end to end (regression)") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()
    val df = spark.read.format("rosbag")
      .option("DataType", "sensor_msgs/Imu").option("IncludeRaw", "true").load(bag)
    assert(df.schema.fieldNames.contains("header_frame_id"))
    assert(df.schema.fieldNames.last == "data")
    assert(df.count() == 100)
  }

  test("scanIndex tolerates a partially-appended trailing record (regression)") {
    val bag = graft.ros.etl.BagEtlMain.demoBag()
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(bag))
    val cut = java.nio.file.Files.createTempFile("cut", ".bag")
    // chop mid-way through the trailing index section
    java.nio.file.Files.write(cut, bytes.dropRight(7))
    val idx = RosbagIO.scanIndex(cut.toString)
    assert(idx.chunks.nonEmpty)   // complete chunks still indexed
  }
}
