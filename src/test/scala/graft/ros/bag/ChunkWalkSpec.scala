package graft.ros.bag

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.ros.Fixtures
import BagFormat._

/** The in-place chunk walk every bag reader shares ([[BagFormat.ChunkWalk]])
  * against the `readRecord` + `parseHeader` parse it replaced, and the
  * header-only index scan.
  */
class ChunkWalkSpec extends AnyFunSuite {

  /** Every record of an uncompressed chunk body through `readRecord`:
    * (op, conn, sec, nsec, offset, data) — conn/time only for messages.
    */
  private def reference(body: Array[Byte]): Seq[(Byte, Int, Int, Int, Int, Seq[Byte])] = {
    val in = new DataInputStream(new ByteArrayInputStream(body))
    val out = Seq.newBuilder[(Byte, Int, Int, Int, Int, Seq[Byte])]
    var off = 0
    var rec = readRecord(in)
    while (rec.isDefined) {
      val r = rec.get
      out += (if (r.op == OpMessageData) {
        val (s, ns) = r.time("time")
        (r.op, r.u32("conn"), s, ns, off, r.data.toSeq)
      } else (r.op, 0, 0, 0, off, r.data.toSeq))
      off += r.wireLen.toInt
      rec = readRecord(in)
    }
    out.result()
  }

  private def walked(body: Array[Byte]): Seq[(Byte, Int, Int, Int, Int, Seq[Byte])] = {
    val w = new ChunkWalk(body)
    val out = Seq.newBuilder[(Byte, Int, Int, Int, Int, Seq[Byte])]
    while (w.next()) out += (if (w.op == OpMessageData)
      (w.op, w.conn, w.timeSec, w.timeNsec, w.offset, w.data().toSeq)
      else (w.op, 0, 0, 0, w.offset, w.data().toSeq))
    out.result()
  }

  private def bagFile(bytes: Array[Byte]): String = {
    val p = Files.createTempFile("graft_walk", ".bag")
    Files.write(p, bytes)
    p.toString
  }

  private val imuConn = BagConnection(0, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5,
    Fixtures.imuDef, "/n")
  private val logConn = BagConnection(1, "/log", "std_msgs/String", "md5log",
    "string data", "/n")

  test("the walk matches the readRecord parse on fixture bags with in-chunk connection records") {
    val msgs = (0 until 23).map(i => WriteMessage(i % 2, 1700000000 + i, i * 7,
      Array.tabulate(5 + i * 3)(j => (i * 13 + j).toByte)))
    for (codec <- Seq("none", "lz4")) {
      val path = bagFile(writeBag(Seq(imuConn, logConn), msgs, messagesPerChunk = 5, compression = codec))
      val idx = RosbagIO.scanIndex(path)
      assert(idx.chunks.size === 5)
      idx.chunks.foreach { ch =>
        val body = decompressChunk(ch.compression, RosbagIO.readChunkData(path, ch), ch.uncompressedSize)
        val ref = reference(body)
        assert(ref.count(_._1 == OpConnection) === 2, "writeBag repeats connections in every chunk")
        assert(walked(body) === ref, codec)
        assert(chunkMessages(ch, RosbagIO.readChunkData(path, ch))
          .map(m => (OpMessageData, m.connId, m.timeSec, m.timeNsec, m.offsetInChunk, m.data.toSeq)) ===
          ref.filter(_._1 == OpMessageData), codec)
      }
    }
  }

  test("the walk reads reordered, unknown and repeated header fields like parseHeader") {
    val body = new ByteArrayOutputStream()
    writeRecord(body, fields("topic" -> "/x".getBytes, "conn" -> le32(3),
      "op" -> Array(OpConnection)), fields("type" -> "std_msgs/String".getBytes))
    // time first, an unknown field between, op last
    writeRecord(body, fields("time" -> time(11, 12), "latching" -> "1".getBytes,
      "conn" -> le32(3), "op" -> Array(OpMessageData)), Array[Byte](1, 2, 3))
    // a repeated conn: the last value wins, as in parseHeader's map
    writeRecord(body, fields("op" -> Array(OpMessageData), "conn" -> le32(1),
      "time" -> time(13, 14), "conn" -> le32(3)), Array.emptyByteArray)
    writeRecord(body, fields("op" -> Array(OpIndexData), "ver" -> le32(1)), Array[Byte](9))
    val bytes = body.toByteArray
    val ref = reference(bytes)
    assert(ref.map(r => (r._1, r._2, r._3, r._4)) === Seq((OpConnection, 0, 0, 0),
      (OpMessageData, 3, 11, 12), (OpMessageData, 3, 13, 14), (OpIndexData, 0, 0, 0)))
    assert(walked(bytes) === ref)
  }

  test("a forged record or field length fails as a corrupt bag, not past the chunk") {
    val msgs = (0 until 4).map(i => WriteMessage(0, 1700000000 + i, 0, Array.fill(8)(i.toByte)))
    val path = bagFile(writeBag(Seq(imuConn), msgs, messagesPerChunk = 4))
    val ch = RosbagIO.scanIndex(path).chunks.head
    val body = RosbagIO.readChunkData(path, ch)
    val recs = reference(body)
    val last = recs.last._5
    def forged(at: Int, v: Int): Array[Byte] = {
      val b = body.clone()
      System.arraycopy(le32(v), 0, b, at, 4)
      b
    }
    // the last record's header length, its data length, and its first
    // header field's length, each pointing past the chunk's end
    val hlen = RosbagDataSource.leInt(body, last)
    for ((b, what) <- Seq(forged(last, body.length) -> "header",
                          forged(last + 4 + hlen, 1 << 20) -> "data",
                          forged(last + 4, hlen + 1) -> "field",
                          forged(last, -5) -> "negative")) {
      val e = intercept[IllegalArgumentException](chunkMessages(ch.copy(compression = "none"), b))
      assert(e.getMessage.contains("corrupt bag"), s"$what: ${e.getMessage}")
    }
  }

  test("scanIndex reads record headers, not compressed chunk bodies") {
    val rnd = new scala.util.Random(7)
    // incompressible payloads: the lz4 chunk bodies are the file's bulk
    val msgs = (0 until 400).map(i => WriteMessage(0, 1700000000 + i, 0,
      Array.fill(2048)(rnd.nextInt().toByte)))
    val bytes = writeBag(Seq(imuConn), msgs, messagesPerChunk = 100, compression = "lz4")
    val path = bagFile(bytes)
    var counted = 0L
    val idx = scanIndex(() => new java.io.FilterInputStream(Files.newInputStream(java.nio.file.Paths.get(path))) {
      override def read(): Int = { val b = super.read(); if (b >= 0) counted += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len); if (n > 0) counted += n; n
      }
    })
    assert(idx.chunks.size === 4 && idx.connections.map(_.topic) === Seq("/imu"))
    assert(idx.chunks.forall(c => c.startTime.isDefined && c.connCounts.isDefined))
    assert(counted < bytes.length / 10, s"read $counted of ${bytes.length} bytes")
    // the positions it recorded read back every message
    assert(idx.chunks.map(c => chunkMessages(c, RosbagIO.readChunkData(path, c)).size).sum === 400)
  }
}
