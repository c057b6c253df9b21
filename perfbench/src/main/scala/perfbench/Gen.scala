package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ros.{MsgDefParser, RosMd5, RosSchemaMapper}
import graft.ros.bag.BagFormat

/** One ROS datatype of the generated fleet: its full definition (the
  * text a bag connection record carries) and its publish rate.
  */
final case class MsgType(datatype: String, topic: String, hz: Int, msgDef: String) {
  lazy val bundle = MsgDefParser.parse(datatype, msgDef)
  lazy val md5: String = RosMd5.compute(datatype, msgDef)
  /** The per-type table name the ETL writes. */
  def table: String = datatype.replace("/", "_")
}

/** Per-message facts the checks derive expected answers from. */
final case class MsgStat(typeIdx: Int, timeSec: Int, timeNsec: Int, size: Int, crc: Long)
final case class ImuStat(stampSec: Int, timeSec: Int, accelX: Double)

/** A generated bag directory and the facts of every message in it. */
final class Fleet(val dir: Path, val bags: Seq[Path], val msgs: IndexedSeq[MsgStat],
                  val imu: IndexedSeq[ImuStat]) {
  def bytes: Long = bags.map(Files.size).sum
  def count: Long = msgs.size.toLong
  def sizeBytes: Long = msgs.map(_.size.toLong).sum
  def crcXor: Long = msgs.foldLeft(0L)(_ ^ _.crc)
  def countByTable: Map[String, Long] =
    msgs.groupBy(m => BagGen.types(m.typeIdx).table).map { case (t, g) => t -> g.size.toLong }
}

/** Seeded ROS1 bag fleets: six datatypes at the rate ratios of a mobile
  * robot (IMU, tf, odometry, a ~4 KB camera blob, GPS and a log topic
  * with strings and string arrays), lz4 chunks, written with the
  * engine's own encoder and bag writer. The same seed gives the same
  * bytes.
  */
object BagGen {
  private val Sep = "=" * 80
  private def sub(name: String, body: String) = s"$Sep\nMSG: $name\n$body"
  private val header = sub("std_msgs/Header", "uint32 seq\ntime stamp\nstring frame_id\n")
  private val vector3 = sub("geometry_msgs/Vector3", "float64 x\nfloat64 y\nfloat64 z\n")
  private val point = sub("geometry_msgs/Point", "float64 x\nfloat64 y\nfloat64 z\n")
  private val quaternion =
    sub("geometry_msgs/Quaternion", "float64 x\nfloat64 y\nfloat64 z\nfloat64 w\n")

  val Imu = MsgType("sensor_msgs/Imu", "/imu/data", 200,
    """Header header
      |geometry_msgs/Quaternion orientation
      |float64[9] orientation_covariance
      |geometry_msgs/Vector3 angular_velocity
      |float64[9] angular_velocity_covariance
      |geometry_msgs/Vector3 linear_acceleration
      |float64[9] linear_acceleration_covariance
      |""".stripMargin + header + quaternion + vector3)

  val Tf = MsgType("tf2_msgs/TFMessage", "/tf", 100,
    "geometry_msgs/TransformStamped[] transforms\n" +
      sub("geometry_msgs/TransformStamped",
        "Header header\nstring child_frame_id\ngeometry_msgs/Transform transform\n") +
      header +
      sub("geometry_msgs/Transform",
        "geometry_msgs/Vector3 translation\ngeometry_msgs/Quaternion rotation\n") +
      vector3 + quaternion)

  val Odom = MsgType("nav_msgs/Odometry", "/odom", 50,
    """Header header
      |string child_frame_id
      |geometry_msgs/PoseWithCovariance pose
      |geometry_msgs/TwistWithCovariance twist
      |""".stripMargin + header +
      sub("geometry_msgs/PoseWithCovariance", "geometry_msgs/Pose pose\nfloat64[36] covariance\n") +
      sub("geometry_msgs/Pose", "geometry_msgs/Point position\ngeometry_msgs/Quaternion orientation\n") +
      point + quaternion +
      sub("geometry_msgs/TwistWithCovariance", "geometry_msgs/Twist twist\nfloat64[36] covariance\n") +
      sub("geometry_msgs/Twist", "geometry_msgs/Vector3 linear\ngeometry_msgs/Vector3 angular\n") +
      vector3)

  val Camera = MsgType("sensor_msgs/CompressedImage", "/camera/image/compressed", 15,
    "Header header\nstring format\nuint8[] data\n" + header)

  val Gps = MsgType("sensor_msgs/NavSatFix", "/gps/fix", 10,
    """uint8 COVARIANCE_TYPE_UNKNOWN=0
      |uint8 COVARIANCE_TYPE_APPROXIMATED=1
      |uint8 COVARIANCE_TYPE_DIAGONAL_KNOWN=2
      |uint8 COVARIANCE_TYPE_KNOWN=3
      |Header header
      |sensor_msgs/NavSatStatus status
      |float64 latitude
      |float64 longitude
      |float64 altitude
      |float64[9] position_covariance
      |uint8 position_covariance_type
      |""".stripMargin + header +
      sub("sensor_msgs/NavSatStatus",
        """int8 STATUS_NO_FIX=-1
          |int8 STATUS_FIX=0
          |uint16 SERVICE_GPS=1
          |int8 status
          |uint16 service
          |""".stripMargin))

  val Log = MsgType("rosgraph_msgs/Log", "/rosout", 4,
    """byte DEBUG=1
      |byte INFO=2
      |byte WARN=4
      |byte ERROR=8
      |byte FATAL=16
      |Header header
      |byte level
      |string name
      |string msg
      |string file
      |string function
      |uint32 line
      |string[] topics
      |""".stripMargin + header)

  val types: IndexedSeq[MsgType] = IndexedSeq(Imu, Tf, Odom, Camera, Gps, Log)

  val BaseSec = 1700000000

  private val words = Seq("sensor", "timeout", "planner", "replan", "goal", "reached",
    "battery", "low", "obstacle", "detected", "lidar", "frame", "dropped", "retry")

  /** Writes `nBags` bags of `seconds` robot-time each under `dir`. Bag
    * b starts 10 s after bag b-1, so the fleet's time ranges overlap.
    */
  def fleet(dir: Path, seed: Long, nBags: Int, seconds: Int,
            messagesPerChunk: Int = 1000): Fleet = {
    Files.createDirectories(dir)
    val msgs = mutable.ArrayBuffer[MsgStat]()
    val imu = mutable.ArrayBuffer[ImuStat]()
    val paths = (0 until nBags).map { b =>
      val rng = new java.util.Random(seed * 1000003L + b)
      val startNs = (BaseSec + 10L * b) * 1000000000L
      // (timeNs, type, stampNs, data, IMU linear_acceleration.x)
      val out = mutable.ArrayBuffer[(Long, Int, Long, Array[Byte], Double)]()
      types.zipWithIndex.foreach { case (t, ti) =>
        val n = t.hz * seconds
        var k = 0
        while (k < n) {
          val stampNs = startNs + k * 1000000000L / t.hz + ti * 100000L
          val (data, accelX) = encode(t, k, stampNs, rng)
          // receive latency: 1.0 to 1.75 ms after the sensor stamp
          out += ((stampNs + 1000000L + (k % 4) * 250000L, ti, stampNs, data, accelX))
          k += 1
        }
      }
      val sorted = out.sortBy(m => (m._1, m._2))
      val conns = types.zipWithIndex.map { case (t, ti) =>
        BagFormat.BagConnection(ti, t.topic, t.datatype, t.md5, t.msgDef, "/robot")
      }
      val writes = sorted.map { case (tNs, ti, _, data, _) =>
        BagFormat.WriteMessage(ti, (tNs / 1000000000L).toInt, (tNs % 1000000000L).toInt, data)
      }
      val path = dir.resolve(f"drive_$b%02d.bag")
      Files.write(path, BagFormat.writeBag(conns, writes.toSeq, messagesPerChunk, "lz4"))
      sorted.foreach { case (tNs, ti, stampNs, data, accelX) =>
        val sec = (tNs / 1000000000L).toInt
        msgs += MsgStat(ti, sec, (tNs % 1000000000L).toInt, data.length,
          graft.ros.bag.RosbagDataSource.crc32(data))
        if (ti == 0) imu += ImuStat((stampNs / 1000000000L).toInt, sec, accelX)
      }
      path
    }
    new Fleet(dir, paths, msgs.toIndexedSeq, imu.toIndexedSeq)
  }

  // dyadic values (multiples of 1/256) sum exactly in any order, so
  // aggregates over them have one right answer
  private def dy(rng: java.util.Random, range: Int): Double =
    (rng.nextInt(2 * range * 256) - range * 256) / 256.0
  private def cov(n: Int, diag: Double): Seq[Double] =
    Seq.tabulate(n) { i => if (i % (math.sqrt(n.toDouble).toInt + 1) == 0) diag else 0.0 }

  /** Wire bytes of message k of type t, and (IMU only) its
    * linear_acceleration.x, which the per-second query sums.
    */
  private def encode(t: MsgType, k: Int, stampNs: Long,
                     rng: java.util.Random): (Array[Byte], Double) = {
    val sec = (stampNs / 1000000000L).toInt
    val nsec = (stampNs % 1000000000L).toInt
    def hdr(frame: String): Seq[Any] = Seq(k.toLong, sec, nsec, frame)
    var accelX = 0.0
    val values: Seq[Any] = t match {
      case Imu =>
        val orientation = Seq(dy(rng, 1), dy(rng, 1), dy(rng, 1), dy(rng, 1))
        val gyro = Seq(dy(rng, 4), dy(rng, 4), dy(rng, 4))
        accelX = dy(rng, 16)
        hdr("imu_link") ++ orientation ++ Seq(cov(9, 0.01)) ++ gyro ++ Seq(cov(9, 0.02),
          accelX, dy(rng, 16), 9.8125 + dy(rng, 1), cov(9, 0.04))
      case Tf =>
        Seq(Seq(
          Row(k.toLong, sec, nsec, "map", "odom", dy(rng, 64), dy(rng, 64), 0.0,
            0.0, 0.0, dy(rng, 1), 1.0),
          Row(k.toLong, sec, nsec, "odom", "base_link", dy(rng, 8), dy(rng, 8), 0.0,
            0.0, 0.0, dy(rng, 1), 1.0)))
      case Odom =>
        hdr("odom") ++ Seq("base_link", dy(rng, 64), dy(rng, 64), 0.0,
          0.0, 0.0, dy(rng, 1), 1.0, cov(36, 0.05),
          dy(rng, 2), 0.0, 0.0, 0.0, 0.0, dy(rng, 1), cov(36, 0.1))
      case Camera =>
        val blob = new Array[Byte](3584 + rng.nextInt(1024))
        rng.nextBytes(blob)
        hdr("camera_optical") ++ Seq("jpeg", blob)
      case Gps =>
        hdr("gps") ++ Seq(0, 1, 42.0 + dy(rng, 1) / 1024, -71.0 + dy(rng, 1) / 1024,
          dy(rng, 64), cov(9, 2.25), 2)
      case Log =>
        val text = Seq.fill(4 + rng.nextInt(8))(words(rng.nextInt(words.size))).mkString(" ")
        hdr("") ++ Seq(Seq(2, 4, 8)(rng.nextInt(3)), s"/node_${rng.nextInt(6)}", text,
          s"src/node_${k % 6}.cpp", "spinOnce", (40 + rng.nextInt(400)).toLong,
          Seq.fill(1 + rng.nextInt(3))(types(rng.nextInt(5)).topic))
    }
    (RosSchemaMapper.encode(t.bundle, values), accelX)
  }
}

/** Seeded documents/embeddings corpus with the shape of the engine's
  * sf0.1 test tables: 10 to 100 words per document from a 30-word
  * vocabulary, 5% near-duplicates (another document's text plus one
  * token), a few exact duplicates, five languages, 20 sources, and
  * unit-norm 64-dim embeddings with 10 labels. Rows are written in a
  * seeded shuffled order.
  */
object CorpusGen {
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def write(spark: SparkSession, dir: Path, seed: Long, nDocs: Int, nVecs: Int): Long = {
    val rng = new java.util.Random(seed)
    val base = Array.fill(nDocs)(Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size)))
      .mkString(" "))
    val text = base.clone()
    (0 until nDocs).foreach { i =>
      val u = rng.nextDouble()
      val j = rng.nextInt(nDocs)
      if (j != i && u < 0.05) text(i) = base(j) + " dup"
      else if (j != i && u < 0.0516) text(i) = base(j)
    }
    def lang(): String = {
      var u = rng.nextDouble()
      langs.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
    }
    val docs = shuffled(rng, (0 until nDocs).map { i =>
      Row(i.toLong, text(i), lang(), s"src${i % 20}", text(i).length.toLong)
    })
    val vecs = shuffled(rng, (0 until nVecs).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rng.nextInt(10))
    })
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1)
      .write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(vecs.asJava, vecSchema).coalesce(1)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    Files.walk(dir).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
  }

  private def shuffled(rng: java.util.Random, rows: IndexedSeq[Row]): Seq[Row] = {
    val a = rows.toArray
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }
}
