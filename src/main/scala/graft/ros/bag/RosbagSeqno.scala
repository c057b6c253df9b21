package graft.ros.bag

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.spark.sql.connector.read.InputPartition

/** The typed scan's `option("seqnoFrom", dir)`: each kept message is
  * stamped with its global seqno while the reader routes it to its
  * type — the reference numbers messages as it routes them
  * (FlattenedRosWriter.cpp:256, 273-289) — instead of a join of the
  * typed scan to the seqno map.
  *
  * Input contract for `dir` (the bag ETL's `_seqno` staging table):
  * parquet files with columns `bag_path`, `chunk_idx`, `offset`,
  * `time_sec` and `seqno`, one row per message, each file sorted by
  * (bag_path, chunk_idx, offset). Files may split a chunk's rows among
  * them (the ETL's files are seqno's time ranges).
  *
  * Planning reads the footers once per scan and routes each input
  * partition to the files whose `time_sec` range meets its chunks'
  * chunk-info times (every file for a chunk without chunk-info) and,
  * inside them, to the row groups whose `bag_path`/`chunk_idx`
  * statistics can hold those chunks. Routing only prunes: the reader
  * loads the routed row groups ONCE per input partition and keeps the
  * rows of its own bags and chunks. A kept message with no row fails
  * the read, unless `option("seqnoMissing", "drop")` — then the
  * message is dropped (a row-limited ETL numbers only a prefix).
  */
object RosbagSeqno {
  private val Columns = Seq("bag_path", "chunk_idx", "offset", "seqno")

  /** Footer statistics of one row group (`None` = no usable stats). */
  final case class RowGroup(index: Int, bags: Option[(Array[Byte], Array[Byte])],
      chunks: Option[(Int, Int)])

  /** Footer summary of one part file: its `time_sec` range (`None` =
    * no usable stats) and row groups.
    */
  final case class SeqnoFile(path: String, times: Option[(Int, Int)], groups: Seq[RowGroup])

  /** Open a part file with read options over `conf`: the default
    * options build (and parse the resources of) a fresh Hadoop
    * Configuration on every open, which dominated a load.
    */
  private def open(p: Path, conf: org.apache.hadoop.conf.Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, p).build())

  /** The footers of every part file under `dir`, read driver-side on
    * the bounded [[graft.ros.DriverPool]].
    */
  def footers(dir: String): Seq[SeqnoFile] = {
    import scala.jdk.CollectionConverters._
    val conf = RosbagIO.hadoopConf()
    val root = new Path(dir)
    val parts = root.getFileSystem(conf).listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    graft.ros.DriverPool.parMap(parts) { st =>
      val rd = open(st.getPath, conf)
      try {
        val schema = rd.getFileMetaData.getSchema
        (Columns :+ "time_sec").foreach(c => require(schema.containsField(c),
          s"seqnoFrom: ${st.getPath} has no $c column"))
        def stats[T](b: org.apache.parquet.hadoop.metadata.BlockMetaData, c: String)
            (get: Any => T): Option[(T, T)] =
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { m =>
            val s = m.getStatistics
            if (s == null || s.isEmpty || !s.hasNonNullValue) None
            else Some((get(s.genericGetMin), get(s.genericGetMax)))
          }
        val blocks = rd.getRowGroups.asScala.toSeq
        val groups = blocks.zipWithIndex.collect { case (b, i) if b.getRowCount > 0 =>
          RowGroup(i, stats(b, "bag_path")(_.asInstanceOf[Binary].getBytes),
            stats(b, "chunk_idx")(_.asInstanceOf[Integer].intValue))
        }
        val times = blocks.filter(_.getRowCount > 0)
          .map(stats(_, "time_sec")(_.asInstanceOf[Integer].intValue))
        SeqnoFile(st.getPath.toString,
          if (times.isEmpty || times.exists(_.isEmpty)) None
          else Some((times.map(_.get._1).min, times.map(_.get._2).max)),
          groups)
      } finally rd.close()
    }
  }

  /** The (file, row groups) an input partition's chunks can find their
    * seqnos in.
    */
  def route(files: Seq[SeqnoFile], chunks: Seq[RosbagInputPartition]): Array[(String, Array[Int])] = {
    val keys = chunks.map(c => (c.path.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      c.chunkIdx, c.chunk))
    files.flatMap { f =>
      val inTime = keys.filter { case (_, _, ch) =>
        (f.times, ch.startTime, ch.endTime) match {
          case (Some((lo, hi)), Some((st, _)), Some((et, _))) => lo <= et && st <= hi
          case _ => true
        }
      }
      val groups = f.groups.filter { g =>
        inTime.exists { case (bag, idx, _) =>
          g.bags.forall { case (lo, hi) =>
            java.util.Arrays.compareUnsigned(lo, bag) <= 0 &&
              java.util.Arrays.compareUnsigned(bag, hi) <= 0 } &&
            g.chunks.forall { case (lo, hi) => lo <= idx && idx <= hi }
        }
      }.map(_.index)
      if (groups.isEmpty) None else Some(f.path -> groups.toArray)
    }.toArray
  }

  /** Wrap every planned partition with its route. */
  def routeAll(dir: String, dropMissing: Boolean, files: Seq[SeqnoFile],
      parts: Array[InputPartition]): Array[InputPartition] =
    parts.map(p => SeqnoRoutedPartition(p, route(files, chunksOf(p)), dir, dropMissing))

  /** One chunk's seqnos, ascending by in-chunk offset. */
  final class ChunkSeqnos(path: String, chunkIdx: Int, offsets: Array[Int],
      seqnos: Array[Long], dir: String, dropMissing: Boolean) {
    /** The seqno of the message at `offset`; -1 when `_seqno` has no row
      * for it and missing rows drop (fails the read otherwise).
      */
    def apply(offset: Int): Long = {
      val i = java.util.Arrays.binarySearch(offsets, offset)
      if (i >= 0) seqnos(i)
      else if (dropMissing) -1L
      else throw new IllegalStateException(s"seqnoFrom $dir has no row for the message at " +
        s"$path chunk $chunkIdx offset $offset")
    }
  }

  /** Converter for raw column reads: values are pulled from each
    * ColumnReader directly, never pushed into records.
    */
  private object Pull extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** The seqnos of one input partition's chunks; a chunk with no rows
    * gets an empty [[ChunkSeqnos]] (its every message is missing).
    */
  final class Lookup(m: Map[(String, Int), ChunkSeqnos], dir: String, dropMissing: Boolean) {
    def apply(p: RosbagInputPartition): ChunkSeqnos =
      m.getOrElse((p.path, p.chunkIdx),
        new ChunkSeqnos(p.path, p.chunkIdx, Array.emptyIntArray, Array.emptyLongArray,
          dir, dropMissing))
  }

  /** The chunk partitions inside one planned partition. */
  def chunksOf(p: InputPartition): Seq[RosbagInputPartition] = p match {
    case pk: graft.ros.PackedPartition => pk.parts.toSeq.map(_.asInstanceOf[RosbagInputPartition])
    case one => Seq(one.asInstanceOf[RosbagInputPartition])
  }

  /** Executor side: read the routed row groups once and keep the rows
    * of the partition's own bags and chunks.
    */
  def load(part: SeqnoRoutedPartition): Lookup = {
    import scala.collection.mutable.{ArrayBuilder, HashMap}
    val chunks = chunksOf(part.inner)
    val bags = chunks.map(_.path).distinct.toArray
    val bagBins = bags.map(Binary.fromString)
    val wanted = chunks.map(c => (bags.indexOf(c.path), c.chunkIdx)).toSet
    val found = HashMap[(Int, Int), (ArrayBuilder.ofInt, ArrayBuilder.ofLong)]()
    val conf = RosbagIO.hadoopConf()
    part.route.foreach { case (file, groups) =>
      val rd = open(new Path(file), conf)
      try {
        val fileSchema = rd.getFileMetaData.getSchema
        val proj = new org.apache.parquet.schema.MessageType(fileSchema.getName,
          Columns.map(c => fileSchema.getType(Seq(c): _*)): _*)
        rd.setRequestedSchema(proj)
        val descs = Columns.map(c => proj.getColumnDescription(Array(c)))
        groups.foreach { g =>
          val pages = rd.readRowGroup(g)
          val store = new ColumnReadStoreImpl(pages, Pull, proj, rd.getFileMetaData.getCreatedBy)
          // column at a time into primitive arrays, then one pass over
          // the rows (sorted by bag_path, chunk_idx: the destination is
          // re-resolved only when that key changes)
          val n = pages.getRowCount.toInt
          def reader(c: Int) = store.getColumnReader(descs(c))
          def present(r: org.apache.parquet.column.ColumnReader, c: Int): Unit =
            if (r.getCurrentDefinitionLevel != r.getDescriptor.getMaxDefinitionLevel)
              throw new IllegalStateException(s"seqnoFrom $file: null ${Columns(c)} value")
          def ints(c: Int): Array[Int] = {
            val r = reader(c)
            val a = new Array[Int](n)
            var k = 0
            while (k < n) { present(r, c); a(k) = r.getInteger; r.consume(); k += 1 }
            a
          }
          val bagOf = new Array[Int](n)
          locally {
            val r = reader(0)
            var last: Binary = null
            var li = -1
            var k = 0
            while (k < n) {
              present(r, 0)
              val b = r.getBinary
              if (b ne last) { last = b; li = bagBins.indexOf(b) }
              bagOf(k) = li
              r.consume()
              k += 1
            }
          }
          val chunkOf = ints(1)
          val offsets = ints(2)
          val seqnos = new Array[Long](n)
          locally {
            val r = reader(3)
            var k = 0
            while (k < n) { present(r, 3); seqnos(k) = r.getLong; r.consume(); k += 1 }
          }
          var into: (ArrayBuilder.ofInt, ArrayBuilder.ofLong) = null
          var k = 0
          while (k < n) {
            if (k == 0 || bagOf(k) != bagOf(k - 1) || chunkOf(k) != chunkOf(k - 1)) {
              val key = (bagOf(k), chunkOf(k))
              into = if (wanted(key))
                found.getOrElseUpdate(key, (new ArrayBuilder.ofInt, new ArrayBuilder.ofLong))
              else null
            }
            if (into != null) { into._1 += offsets(k); into._2 += seqnos(k) }
            k += 1
          }
        }
      } finally rd.close()
    }
    new Lookup(found.map { case ((b, idx), (ob, sb)) =>
      val (o, s) = (ob.result(), sb.result())
      // each file holds a chunk's rows in offset order; only a chunk
      // split across files needs sorting
      val (os, ss) =
        if ((1 until o.length).forall(i => o(i - 1) < o(i))) (o, s)
        else {
          val order = o.indices.sortBy(o(_))
          (order.map(o(_)).toArray, order.map(s(_)).toArray)
        }
      (bags(b), idx) -> new ChunkSeqnos(bags(b), idx, os, ss, part.dir, part.dropMissing)
    }.toMap, part.dir, part.dropMissing)
  }
}

/** A typed-scan input partition (one chunk or a pack) with the
  * `seqnoFrom` row groups its chunks route to.
  */
final case class SeqnoRoutedPartition(inner: InputPartition,
    route: Array[(String, Array[Int])], dir: String, dropMissing: Boolean)
  extends InputPartition
