package graft.ros.bag

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import graft.ros._
import graft.ros.RosPrimitive._

/** Vectorized typed bag reads — `PartitionReader[ColumnarBatch]`
  * (SURVEY.md §1.1's "optimization path"). The wire walk decodes each
  * message DIRECTLY into `OnHeapColumnVector`s through a per-leaf op
  * program compiled once per partition from the message definition:
  * no per-row `Seq[Any]`, no boxing, no `InternalRow.fromSeq`, no
  * `String`/`GenericArrayData` intermediates (strings append their
  * UTF-8 wire bytes verbatim). Columns pruned away by Catalyst become
  * skip ops that advance the buffer without materializing anything —
  * same economics as the reference's "read the header before deciding
  * whether to incur I/O for the image" (reference README.md:10), but
  * per column.
  *
  * Supported column shapes: all scalars, strings, uint8[] blobs, and
  * arrays of primitives/strings. A REQUIRED column of array-of-struct
  * shape (msg[] / time[]) falls back to the row reader for the whole
  * scan — unsupported shapes that are merely present in the type but
  * pruned from the projection are fine (they are skip-walked).
  */
object RosbagColumnarRead {

  /** Kill switch for same-session A/B measurement (TypedReadBench) and
    * triage: sysprop `graft.columnar.disable=true` routes every scan
    * through the row readers. Read per supportColumnarReads call
    * (driver-side, plan time), so one session can flip it between
    * queries. Shared by all six reader factories (bag/mcap/db3 ×
    * spine/typed).
    */
  def enabled: Boolean = !java.lang.Boolean.getBoolean("graft.columnar.disable")

  /** Can every required column be decoded vectorized? */
  def supportsColumnar(required: StructType): Boolean =
    required.fields.forall { f =>
      f.dataType match {
        case BooleanType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BinaryType => true
        case ArrayType(BooleanType | IntegerType | LongType | FloatType |
                       DoubleType | StringType, _) => true
        case _ => false
      }
    }

  type Op = ByteBuffer => Unit

  private def readLen(buf: ByteBuffer): Int = {
    val n = buf.getInt()
    require(n >= 0, s"negative array/string length $n")
    n
  }
  private def skip(buf: ByteBuffer, n: Int): Unit = buf.position(buf.position() + n)

  private def scalarWidth(p: RosPrimitive): Int = p match {
    case RBool | RInt8 | RByte | RUInt8 | RChar => 1
    case RInt16 | RUInt16 => 2
    case RInt32 | RUInt32 | RFloat32 => 4
    case RInt64 | RUInt64 | RFloat64 | RTime | RDuration => 8
    case RString => -1 // dynamic
    case RWString => throw new IllegalArgumentException(
      "wstring is not a ROS 1 wire type (ros2 CDR decodes it)")
  }

  /** Skip one scalar of primitive type `p`. */
  private def skipScalar(p: RosPrimitive): Op = p match {
    case RString => buf => skip(buf, readLen(buf))
    case other   => val w = scalarWidth(other); buf => skip(buf, w)
  }

  /** Append one scalar of primitive type `p` into `v` (widening rules
    * of RosSchemaMapper.decodeScalar, reference MessageTable.cpp:40-225
    * with the unsigned fixes of SURVEY.md §1.2).
    */
  private def writeScalar(p: RosPrimitive, v: WritableColumnVector): Op = p match {
    case RBool    => buf => v.appendBoolean(buf.get() != 0)
    case RInt8 | RByte => buf => v.appendInt(buf.get().toInt)
    case RUInt8 | RChar => buf => v.appendInt(java.lang.Byte.toUnsignedInt(buf.get()))
    case RInt16   => buf => v.appendInt(buf.getShort().toInt)
    case RUInt16  => buf => v.appendInt(java.lang.Short.toUnsignedInt(buf.getShort()))
    case RInt32   => buf => v.appendInt(buf.getInt())
    case RUInt32  => buf => v.appendLong(java.lang.Integer.toUnsignedLong(buf.getInt()))
    case RInt64 | RUInt64 => buf => v.appendLong(buf.getLong())
    case RFloat32 => buf => v.appendFloat(buf.getFloat())
    case RFloat64 => buf => v.appendDouble(buf.getDouble())
    case RString  => buf => {
      val n = readLen(buf)
      // bound-check BEFORE the zero-copy view: UTF8String reads through
      // Unsafe, so an overlong length would read (and may fault) past
      // the payload array instead of failing like the row path
      require(n <= buf.remaining(), s"string length $n overruns the ${buf.remaining()} bytes left")
      val arr = buf.array(); val off = buf.arrayOffset() + buf.position()
      // parity with the row path (RosSchemaMapper decodes through
      // new String(..., UTF_8), which substitutes U+FFFD): valid UTF-8
      // appends zero-copy; invalid bytes take the Java String round
      // trip so both readers return identical values
      if (org.apache.spark.unsafe.types.UTF8String.fromBytes(arr, off, n).isValid) {
        v.appendByteArray(arr, off, n)
      } else {
        val fixed = new String(arr, off, n, java.nio.charset.StandardCharsets.UTF_8)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        v.appendByteArray(fixed, 0, fixed.length)
      }
      skip(buf, n)
    }
    case RWString => throw new IllegalArgumentException(
      "wstring is not a ROS 1 wire type (ros2 CDR decodes it)")
    case RTime | RDuration =>
      throw new IllegalStateException("time handled by caller (two columns)")
  }

  /** Append one array element into the CHILD vector (same widenings). */
  private def writeElem(p: RosPrimitive, child: WritableColumnVector): Op =
    writeScalar(p, child)

  /** Compile the wire-order op program for `msg`: one op per leaf, a
    * writer when the leaf's flattened column is in `colFor`, a skip
    * otherwise. Mirrors RosSchemaMapper.schemaFields/decodeMsg exactly
    * so wire order and column order stay aligned.
    */
  def compile(bundle: RosMsgBundle, msg: RosMsgDef, prefix: String,
              colFor: String => Option[WritableColumnVector]): Seq[Op] = {
    def join(p: String, n: String) = if (p.isEmpty) n else s"${p}_$n"
    msg.fields.filterNot(_.isConstant).flatMap { f =>
      val col = join(prefix, f.name)
      f.tpe match {
        case RTime | RDuration =>
          Seq(colFor(s"${col}_sec") match {
            case Some(v) => (buf: ByteBuffer) => v.appendInt(buf.getInt())
            case None    => (buf: ByteBuffer) => skip(buf, 4)
          }, colFor(s"${col}_nsec") match {
            case Some(v) => (buf: ByteBuffer) => v.appendInt(buf.getInt())
            case None    => (buf: ByteBuffer) => skip(buf, 4)
          })
        case p: RosPrimitive =>
          Seq(colFor(col).map(writeScalar(p, _)).getOrElse(skipScalar(p)))
        case ref: RosMsgRef =>
          compile(bundle, bundle.resolve(ref, msg.pkg), col, colFor)
        case RosArray(RUInt8 | RByte | RChar | RInt8, fixedLen) =>
          Seq(colFor(col) match {
            case Some(v) => (buf: ByteBuffer) => {
              val n = fixedLen.getOrElse(readLen(buf))
              v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), n)
              skip(buf, n)
            }
            case None => (buf: ByteBuffer) =>
              skip(buf, fixedLen.getOrElse(readLen(buf)))
          })
        case RosArray(RTime | RDuration, fixedLen) =>
          // array-of-struct columns are never writers here (supportsColumnar
          // rejects them from the projection); skip is 8 bytes per element
          Seq((buf: ByteBuffer) => skip(buf, 8 * fixedLen.getOrElse(readLen(buf))))
        case RosArray(p: RosPrimitive, fixedLen) =>
          Seq(colFor(col) match {
            case Some(v) =>
              val elemWriter = writeElem(p, v.arrayData())
              (buf: ByteBuffer) => {
                val n = fixedLen.getOrElse(readLen(buf))
                // appendArray FIRST: it records the child's current
                // elementsAppended as this row's offset, so the n
                // element appends below land exactly in [offset,
                // offset+n). Appending elements first would make the
                // offset point one row ahead (zeros on the last row,
                // silently shifted values elsewhere).
                v.appendArray(n)
                var i = 0
                while (i < n) { elemWriter(buf); i += 1 }
              }
            case None =>
              val elemSkip = skipScalar(p)
              val w = scalarWidth(p)
              if (w > 0) (buf: ByteBuffer) => skip(buf, w * fixedLen.getOrElse(readLen(buf)))
              else (buf: ByteBuffer) => {
                val n = fixedLen.getOrElse(readLen(buf))
                var i = 0
                while (i < n) { elemSkip(buf); i += 1 }
              }
          })
        case RosArray(ref: RosMsgRef, fixedLen) =>
          // element skip program (no writers inside by construction)
          val elemOps = compile(bundle, bundle.resolve(ref, msg.pkg), col,
            _ => None)
          Seq((buf: ByteBuffer) => {
            val n = fixedLen.getOrElse(readLen(buf))
            var i = 0
            while (i < n) { elemOps.foreach(_(buf)); i += 1 }
          })
        case RosArray(_: RosArray, _) =>
          throw new IllegalArgumentException("arrays of arrays are not in the ROS IDL")
      }
    }
  }
}

/** Batch-at-a-time columnar reader for the UNTYPED (spine) bag scan —
  * the hottest path in the ETL: every meta pass (seqno staging,
  * Messages) and every query-in-place meta projection runs through it.
  * All spine columns vectorize trivially: ints from the message
  * record, topic/datatype as per-connection interned UTF-8 bytes,
  * nullable header stamps from the 12-byte wire prefix, the raw blob
  * by reference-free byte append.
  */
class RosbagMetaColumnarReader(p: RosbagInputPartition, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter], limit: Int,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private lazy val connHasHeader: Map[Int, Boolean] =
    p.conns.map { case (id, c) =>
      id -> RosbagDataSource.startsWithHeader(c.datatype, c.msgDef)
    }
  private val topicBytes: Map[Int, Array[Byte]] =
    p.conns.map { case (id, c) =>
      id -> c.topic.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
  private val datatypeBytes: Map[Int, Array[Byte]] =
    p.conns.map { case (id, c) =>
      id -> c.datatype.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
  private val pathBytes: Array[Byte] =
    p.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // every writer reads the cursor's current record in place: no
  // payload copy (appendByteArray copies straight from the chunk body)
  private val cursor = new ChunkCursor(p, filters, limit, ChunkCursor.knownConn(p))
  private def w = cursor.walk

  private def stamp(v: OnHeapColumnVector, off: Int): Unit =
    if (connHasHeader(w.conn) && w.dataLen >= 12)
      v.appendInt(RosbagDataSource.leInt(w.body, w.dataOff + off))
    else v.appendNull()

  private val writers: Array[() => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      val v = vectors(i)
      f.name match {
        case "bag_path" => () => v.appendByteArray(pathBytes, 0, pathBytes.length)
        case "chunk_idx" => () => v.appendInt(p.chunkIdx)
        case "offset" => () => v.appendInt(w.offset)
        case "time_sec" => () => v.appendInt(w.timeSec)
        case "time_nsec" => () => v.appendInt(w.timeNsec)
        case "size" => () => v.appendInt(w.dataLen)
        case "connection_id" => () => v.appendInt(w.conn)
        case "topic" => () => {
          val b = topicBytes(w.conn); v.appendByteArray(b, 0, b.length) }
        case "datatype" => () => {
          val b = datatypeBytes(w.conn); v.appendByteArray(b, 0, b.length) }
        case "header_stamp_sec" => () => stamp(v, 4)
        case "header_stamp_nsec" => () => stamp(v, 8)
        case "data_crc32" => () =>
          v.appendLong(RosbagDataSource.crc32(w.body, w.dataOff, w.dataLen))
        case "data" => () => v.appendByteArray(w.body, w.dataOff, w.dataLen)
      }
    }
  private val dataRequired = required.fieldNames.contains("data")
  private var pending = false   // a kept message the last batch had no room for

  override def next(): Boolean = {
    if (!pending && !cursor.next()) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    pending = true
    while (pending && n < batchSize && bytes < batchBytes) {
      if (dataRequired) bytes += w.dataLen
      var j = 0
      while (j < writers.length) { writers(j)(); j += 1 }
      n += 1
      pending = cursor.next()
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}

/** Batch-at-a-time columnar reader for typed bag scans. */
class RosbagTypedColumnarReader(p: RosbagInputPartition, datatype: String,
    msgDef: String, required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter],
    seqnos: Option[RosbagSeqno.Lookup] = None,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {
  import RosbagColumnarRead._

  private val bundle = MsgDefParser.parse(datatype, msgDef)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val colIdx: Map[String, Int] =
    required.fieldNames.zipWithIndex.toMap
  private def vec(name: String): Option[WritableColumnVector] =
    colIdx.get(name).map(vectors(_))

  // meta + raw columns are written outside the wire walk; payload
  // fields colliding with reserved names carry the `_field` suffix in
  // the typed schema (RosbagTypedRead.typedSchema) — look them up
  // under the renamed column
  private val metaNames = Set("seqno", "bag_path", "chunk_idx", "offset", "time_sec",
    "time_nsec", "connection_id", "data")
  private val ops: Array[Op] =
    compile(bundle, bundle.root, prefix = "",
      name => vec(if (metaNames(name)) name + "_field" else name)).toArray
  // wire-walk needed at all? (meta-only scans skip the decode entirely)
  private val needsWalk: Boolean =
    required.fieldNames.exists(n => !metaNames(n))

  private lazy val typeConns = p.conns.filter(_._2.datatype == datatype).keySet
  // pushed meta filters skip whole messages BEFORE the decode; the
  // payload is decoded straight from the chunk body, never copied
  private lazy val cursor = new ChunkCursor(p, filters, -1, typeConns.contains)
  private lazy val chunkSeqnos = seqnos.map(_(p))
  private var seqno = -1L

  /** The next kept message with a seqno (when stamping seqnos). */
  private def advance(): Boolean = {
    while (cursor.next()) {
      seqno = chunkSeqnos.fold(0L)(_(cursor.walk.offset))
      if (seqno >= 0) return true
    }
    false
  }

  private val seqnoV = vec("seqno").orNull
  private val bagPathV = vec("bag_path").orNull
  private val bagPathBytes = p.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val chunkIdxV = vec("chunk_idx").orNull
  private val offsetV = vec("offset").orNull
  private val timeSecV = vec("time_sec").orNull
  private val timeNsecV = vec("time_nsec").orNull
  private val connIdV = vec("connection_id").orNull
  private val rawV = if (includeRaw) vec("data").orNull else null
  private var pending = false   // a kept message the last batch had no room for

  override def next(): Boolean = {
    if (!pending && !advance()) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    // row AND byte budget: blob-dominated types (images) would blow the
    // ~2 GB contiguous capacity of a single child vector — and hold the
    // heap — at 4096 rows x MB-scale messages. Each batch stops at
    // batchBytes of wire payload (always admitting at least one row).
    // Meta-only scans materialize nothing from the payload, so they
    // keep full-size batches regardless of message size.
    val payloadMaterialized = needsWalk || rawV != null
    pending = true
    while (pending && n < batchSize && bytes < batchBytes) {
      val w = cursor.walk
      if (payloadMaterialized) bytes += w.dataLen
      if (seqnoV != null) seqnoV.appendLong(seqno)
      if (bagPathV != null) bagPathV.appendByteArray(bagPathBytes, 0, bagPathBytes.length)
      if (chunkIdxV != null) chunkIdxV.appendInt(p.chunkIdx)
      if (offsetV != null) offsetV.appendInt(w.offset)
      if (timeSecV != null) timeSecV.appendInt(w.timeSec)
      if (timeNsecV != null) timeNsecV.appendInt(w.timeNsec)
      if (connIdV != null) connIdV.appendInt(w.conn)
      if (rawV != null) rawV.appendByteArray(w.body, w.dataOff, w.dataLen)
      if (needsWalk) {
        val buf = ByteBuffer.wrap(w.body, w.dataOff, w.dataLen).slice()
          .order(ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < ops.length) { ops(j)(buf); j += 1 }
        require(!buf.hasRemaining,
          s"decode did not consume buffer: ${buf.remaining} bytes left of ${w.dataLen}")
      }
      n += 1
      pending = advance()
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}
