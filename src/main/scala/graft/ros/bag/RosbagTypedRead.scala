package graft.ros.bag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ros.{MsgDefParser, RosMsgBundle, RosSchemaMapper}

/** Typed in-place bag reads: `spark.read.format("rosbag")
  * .option("datatype", "sensor_msgs/Imu").load(path)` decodes the
  * flattened per-type schema DIRECTLY inside the source's
  * PartitionReader — querying the bag without converting it first.
  * The reference's pitch is convert-then-query (README.md:2); this adds
  * query-in-place on top: the same flatten/decode used by the ETL, but
  * streamed straight into Catalyst as InternalRows (SURVEY.md §1.1's
  * "row-based PartitionReader[InternalRow]" analog).
  *
  * Schema: spine meta (chunk_idx, offset, time_sec, time_nsec,
  * connection_id) ++ flattened payload columns (reserved names get
  * `_field` like the ETL). The raw blob is included only when
  * `option("includeRaw", "true")`. `option("seqnoFrom", dir)` prepends
  * `seqno`, stamped from a seqno table in the reader ([[RosbagSeqno]]).
  */
object RosbagTypedRead {
  val MetaFields: Seq[StructField] = Seq(
    StructField("bag_path", StringType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("time_sec", IntegerType, nullable = false),
    StructField("time_nsec", IntegerType, nullable = false),
    StructField("connection_id", IntegerType, nullable = false))

  private val reserved = MetaFields.map(_.name).toSet + "data" + "seqno"

  /** A resolved typed-read target: ONE message definition (identified
    * by its md5) and the bags that carry it. Multi-bag loads with
    * schema drift (SURVEY §7.4.3: a fleet's mid-life message-definition
    * change) hold several variants of a datatype; each variant is its
    * own target/table — `option("md5", prefix)` selects one.
    */
  final case class TypedTarget(datatype: String, msgDef: String, md5: String,
                               bags: Seq[String])

  /** Resolve (path, datatype, optional md5 prefix) against every bag
    * `path` denotes. Fails loudly when the datatype drifts across bags
    * and no md5 narrows it to one variant — a silent pick would decode
    * some bags with the wrong definition.
    */
  def resolveTarget(path: String, datatype: String, md5: Option[String]): TypedTarget = {
    val variants: Seq[(String, String, String)] = // (md5, msgDef, bag)
      RosbagIO.scanIndexes(RosbagIO.resolveBags(path)).flatMap { case (bag, index) =>
        index.connections
          .filter(_.datatype == datatype)
          .map(c => (c.md5sum, c.msgDef, bag))
      }
    require(variants.nonEmpty, s"datatype $datatype not present in $path")
    val byMd5 = variants.groupBy(_._1)
    val chosen = md5 match {
      case Some(m) => byMd5.filter { case (k, _) => k.startsWith(m) }
      case None => byMd5
    }
    require(chosen.size == 1,
      s"datatype $datatype has ${byMd5.size} definition variants in $path " +
        s"(md5s: ${byMd5.keys.toSeq.sorted.mkString(", ")})" +
        (if (md5.isDefined) s"; md5 prefix '${md5.get}' matches ${chosen.size}"
         else "; pass option(\"md5\", <prefix>) to select one"))
    val (m, vs) = chosen.head
    TypedTarget(datatype, vs.head._2, m, vs.map(_._3).distinct)
  }

  def bundleFor(path: String, datatype: String): RosMsgBundle = {
    val t = resolveTarget(path, datatype, None)
    MsgDefParser.parse(datatype, t.msgDef)
  }

  /** `seqno` is nullable: the per-type tables have always carried it
    * from the staged seqno map, read back from parquet as nullable, and
    * the stamped column keeps their parquet schema unchanged.
    */
  val SeqnoField: StructField = StructField("seqno", LongType, nullable = true)

  def typedSchema(bundle: RosMsgBundle, includeRaw: Boolean,
      withSeqno: Boolean = false): StructType = {
    val payload = RosSchemaMapper.flatSchema(bundle).fields.map(f =>
      if (reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val raw = if (includeRaw) Seq(StructField("data", BinaryType, nullable = false)) else Nil
    StructType((if (withSeqno) Seq(SeqnoField) else Nil) ++ MetaFields ++ payload ++ raw)
  }

  /** Scala decode value → Catalyst internal value, per data type. */
  def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (seq: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(seq.map(toCatalyst(_, et)).toArray)
    case (r: org.apache.spark.sql.Row, st: StructType) =>
      InternalRow.fromSeq(r.toSeq.zip(st.fields).map { case (x, f) => toCatalyst(x, f.dataType) })
    case (x, _) => x
  }
}

class RosbagTypedReaderFactory(datatype: String, msgDef: String,
    required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  // a seqno-routed partition loads its seqnos ONCE, for all its chunks
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    rows(partition, None)
  private def rows(partition: InputPartition, seqnos: Option[RosbagSeqno.Lookup])
      : PartitionReader[InternalRow] = partition match {
    case r: SeqnoRoutedPartition => rows(r.inner, Some(RosbagSeqno.load(r)))
    case p: graft.ros.PackedPartition =>
      graft.ros.ConcatPartitionReader.rows(p, rows(_, seqnos))
    case p => new RosbagTypedPartitionReader(
      p.asInstanceOf[RosbagInputPartition], datatype, msgDef, required,
      includeRaw, filters, seqnos)
  }

  // vectorized path: decode straight into column vectors whenever every
  // required column has a columnar-supported shape (scalars, strings,
  // blobs, arrays of primitives); array-of-struct projections fall back
  // to the row reader above (Scan.columnarSupportMode PARTITION_DEFINED
  // routes on this per-partition answer)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    RosbagColumnarRead.enabled && RosbagColumnarRead.supportsColumnar(required)
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    batches(partition, None)
  private def batches(partition: InputPartition, seqnos: Option[RosbagSeqno.Lookup])
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = partition match {
    case r: SeqnoRoutedPartition => batches(r.inner, Some(RosbagSeqno.load(r)))
    case p: graft.ros.PackedPartition =>
      graft.ros.ConcatPartitionReader.batches(p, batches(_, seqnos))
    case p => new RosbagTypedColumnarReader(
      p.asInstanceOf[RosbagInputPartition], datatype, msgDef, required,
      includeRaw, filters, seqnos)
  }
}

class RosbagTypedPartitionReader(p: RosbagInputPartition, datatype: String,
    msgDef: String, required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter],
    seqnos: Option[RosbagSeqno.Lookup] = None)
    extends PartitionReader[InternalRow] {
  import RosbagTypedRead._

  private lazy val bundle = MsgDefParser.parse(datatype, msgDef)
  private lazy val fullSchema = typedSchema(bundle, includeRaw, seqnos.isDefined)
  // index of each required column in the full typed row
  private lazy val projection: Array[Int] =
    required.fields.map(f => fullSchema.fieldIndex(f.name))
  private lazy val typeConns = p.conns.filter(_._2.datatype == datatype).keySet
  // pushed meta filters skip whole messages BEFORE any payload copy
  private lazy val cursor = new ChunkCursor(p, filters, -1, typeConns.contains)
  private lazy val chunkSeqnos = seqnos.map(_(p))
  private val metaStart = if (seqnos.isDefined) 1 else 0

  private var current: BagFormat.BagMessage = _
  private var seqno = -1L
  private val pathUtf8 = UTF8String.fromString(p.path)

  override def next(): Boolean = {
    while (cursor.next()) {
      val w = cursor.walk
      seqno = chunkSeqnos.fold(0L)(_(w.offset))
      if (seqno >= 0) {
        current = BagFormat.BagMessage(w.conn, w.timeSec, w.timeNsec, w.offset, w.data())
        return true
      }
    }
    false
  }

  // column pruning: decode the payload only when a payload column is
  // actually required (meta-only scans — counts, time filters — keep
  // the "no decode unless asked" property of the spine reader)
  private lazy val needsPayload: Boolean =
    projection.exists(i => i >= metaStart + MetaFields.size &&
      !(includeRaw && i == fullSchema.size - 1))

  override def get(): InternalRow = {
    val nFields = fullSchema.size
    val full = new Array[Any](nFields)
    if (seqnos.isDefined) full(0) = seqno
    full(metaStart) = pathUtf8
    full(metaStart + 1) = p.chunkIdx; full(metaStart + 2) = current.offsetInChunk
    full(metaStart + 3) = current.timeSec; full(metaStart + 4) = current.timeNsec
    full(metaStart + 5) = current.connId
    if (includeRaw) full(nFields - 1) = current.data
    if (needsPayload) {
      val vals = RosSchemaMapper.decode(bundle, current.data)
      var i = 0
      val it = vals.iterator
      while (it.hasNext) { full(metaStart + MetaFields.size + i) = it.next(); i += 1 }
    }
    InternalRow.fromSeq(projection.toSeq.map { i =>
      toCatalyst(full(i), fullSchema.fields(i).dataType)
    })
  }

  override def close(): Unit = ()
}
