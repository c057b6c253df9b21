package graft.ros.etl

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ros.{MsgDefParser, RosMsgBundle, RosSchemaMapper}

/** The reference's whole pipeline (reference rosbag2parquet.cpp:41-63,
  * FlattenedRosWriter.cpp:226-271) as one Spark job: read a bag via the
  * DSv2 `rosbag` source, assign the dense global seqno in time order,
  * and write `Messages`, `Connections` and one flattened parquet table
  * per datatype (snappy, like TableBuffer.cpp:49-51).
  *
  * Scale shape: the bag scan parallelizes over packed chunk ranges;
  * seqno is the range-partition + prefix-sum operator (no
  * single-partition stage; AQE right-sizes its partitions) over
  * staged meta, and its one shuffle carries ints only. Each per-type
  * table is a typed scan decoding only that type's rows (the
  * reference's route-by-type, FlattenedRosWriter.cpp:273-289, becomes
  * predicate pushdown into the source) that stamps each message's
  * seqno from the staged `_seqno` map as it routes it (the reference
  * numbers as it routes, FlattenedRosWriter.cpp:256): scan → project →
  * coalesce → write, with no join, broadcast or shuffle at any scale,
  * so payload blobs never cross a shuffle. Each is written with as
  * many tasks as its own bytes need but never so few that a task walks
  * more chunk bytes than one Spark file split. The write phase,
  * incremental entry and crash repair are the containers' shared
  * [[EtlCore]]: Messages writes concurrently with the per-type tables;
  * Connections is driver-side tiny and lands last as the commit record.
  */
object BagEtl {
  /** The reference's `info` result (rosbag2parquet.h:6-10) plus the
    * per-file checksum of reference TODO rosbag2parquet.cpp:28 ("and
    * while we are at it: per file crc"): `crcXor` is the bit-xor of all
    * per-message CRC32s — order-independent, so it aggregates
    * distributed with no shuffle-order sensitivity, and any single
    * corrupted message flips it. (It is a message-content checksum, not
    * a CRC of the container file's bytes — chunk compression codec or
    * re-chunking don't change it, which is the useful invariant.)
    */
  final case class Info(bagname: String, count: Long, sizeBytes: Long, crcXor: Long)

  /** Run the conversion into a fresh (versioned) output dir; returns
    * the reference's `info` result (rosbag2parquet.h:6-10).
    *
    * @param maxMessages mirrors --max_mbs's test-scope-limiting role
    *        (main.cpp:26) with row granularity.
    * @param keepRawBlob retain the raw serialized `data` column on
    *        per-type tables (reference README.md:106 "you don't lose
    *        any data"). Since this engine ALSO materializes arrays
    *        (unlike the reference), blob-dominated types store their
    *        payload twice with the default; pass false for the
    *        storage-lean layout (the typed columns alone are lossless
    *        for all materialized fields).
    * @param blobSideTable split raw blobs larger than `blobThreshold`
    *        out of each per-type table into `<table>_blobs.parquet`
    *        keyed by seqno (reference wishlist rosbag2parquet.cpp:26
    *        "emit blobs as a standalone table"; README.md:137). The
    *        main table keeps small blobs inline, nulls the big ones and
    *        carries a `data_externalized` flag — scan-heavy queries
    *        stop paying for image bytes they never read, and the side
    *        table joins back on seqno when they do. Requires
    *        keepRawBlob (no blob column to externalize otherwise).
    * @param stagedByType single-pass mode: ONE scan of the bag writes
    *        (spine meta, datatype, raw bytes) to a parquet staging
    *        table partitioned by datatype; the spine reads just its
    *        meta columns back (parquet column pruning skips the blob
    *        pages) and each per-type table decodes only its own
    *        partition's bytes. Every bag chunk is read — and, for
    *        bz2/lz4 bags, decompressed — exactly ONCE for the whole
    *        ETL: the reference's serial read-once economics
    *        (rosbag2parquet.cpp:41-63) at cluster parallelism. Costs
    *        one extra write and read of the payload bytes, so it pays
    *        only where decompression is dear: it measured faster on a
    *        bz2 bag (PERF.md), but SLOWER than the default per-type
    *        re-scans on a 6-type lz4 fleet (lz4 decompresses at GB/s).
    * @param nativeTimestamp additionally emit `time` as a parquet
    *        TIMESTAMP (micros, NTZ) derived from time_sec/time_nsec
    *        (floor to micros) — reference TODO rosbag2parquet.cpp:31-32
    *        "use parquet timestamps rather than ros sec/nsec". Additive:
    *        the raw sec/nsec pair stays (the reference's load-time
    *        compatibility concern), and parquet min/max column stats
    *        cover it like every other column (Spark's writer generates
    *        chunk statistics for all columns — reference TODO :33 is
    *        free here).
    */
  def run(spark: SparkSession, bagPath: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
          stagedByType: Boolean = false, nativeTimestamp: Boolean = false): Info =
    // bagPath may be one file, a directory, or a glob — the dataset
    // shape a 100 TB robotics corpus actually arrives in.
    runBags(spark, graft.ros.bag.RosbagIO.resolveBags(bagPath),
      new java.io.File(bagPath).getName, EtlCore.versionedOutputDir(outDir),
      maxMessages, keepRawBlob, blobSideTable, blobThreshold, stagedByType,
      nativeTimestamp)

  /** Incremental multi-bag conversion ([[EtlCore.incremental]]): ETL
    * only the bags under `bagPath` not yet recorded in `outDir`'s
    * Connections (matched by bag_path), appending Messages/Connections/
    * per-type rows with seqnos continuing after the committed maximum —
    * the daily fleet-upload shape: new drives arrive, the corpus tables
    * grow, nothing already converted is re-read or re-written. Table
    * naming stays consistent across increments via the `_tables.json`
    * manifest: a (datatype, md5) variant keeps its historical table; a
    * NEW variant of a known datatype always gets the md5-namespaced name
    * (the historical table is never renamed). Seqnos are dense overall;
    * cross-bag time interleave holds WITHIN each increment (across
    * increments, arrival order dominates — an ingest log, not a global
    * re-sort). Returns the `info` of the appended increment (zero-count
    * when there is nothing new). On a fresh/absent outDir this is
    * exactly `run` into outDir itself; a bootstrap that crashed before
    * its Connections commit is purged and converted afresh.
    */
  def runIncremental(spark: SparkSession, bagPath: String, outDir: String,
          keepRawBlob: Boolean = true,
          blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
          stagedByType: Boolean = false, nativeTimestamp: Boolean = false): Info = {
    val dirName = new java.io.File(bagPath).getName
    EtlCore.incremental(spark, outDir, "Connections", "bag_path",
        graft.ros.bag.RosbagIO.resolveBags(bagPath), Info(dirName, 0L, 0L, 0L)) {
      (bags, offset, naming, append) =>
        runBags(spark, bags, dirName, outDir, None, keepRawBlob, blobSideTable,
          blobThreshold, stagedByType, nativeTimestamp, offset, naming, append)
    }
  }

  /** The bag conversion over an explicit bag list, run inside the
    * shared write phase ([[EtlCore.convert]]). `seqnoOffset` shifts the
    * dense seqno (incremental appends continue after the existing max);
    * `naming` pins historical (datatype, md5) → table names; `append`
    * switches every table write to SaveMode.Append and restricts DDL
    * emission to newly-created tables. Returns the info of THIS run's
    * slice.
    */
  private def runBags(spark: SparkSession, bags: Seq[String], bagName: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          blobSideTable: Boolean, blobThreshold: Int,
          stagedByType: Boolean, nativeTimestamp: Boolean,
          seqnoOffset: Long = 0L,
          naming: Map[(String, String), String] = Map.empty,
          append: Boolean = false): Info = {
    require(!blobSideTable || keepRawBlob,
      "blobSideTable requires keepRawBlob=true (there is no blob column to externalize)")
    val stageDir = s"$out/_spine"
    val seqnoDir = s"$out/_seqno"
    val (slice, _) = EtlCore.convert(spark, out, bags, "Connections",
        seqnoOffset, append, naming, Seq(seqnoDir, stageDir)) { jobs =>
      val indexes = graft.ros.bag.RosbagIO.scanIndexes(bags)
      jobs.lap("scanIndex")

      // Connections dimension (reference FlattenedRosWriter.cpp:209-224),
      // keyed (bag_path, connection_id) — connection ids are per-bag.
      val connections = graft.ros.bag.RosbagTables.fromIndexes(spark, indexes)

      // md5 consistency per datatype WITHIN each bag (reference
      // FlattenedRosWriter.cpp:287 asserts per-bag).
      indexes.foreach { case (b, index) =>
        index.connections.groupBy(_.datatype).foreach { case (dt, cs) =>
          require(cs.map(_.md5sum).distinct.size == 1,
            s"datatype $dt has conflicting md5sums across connections in $b")
        }
      }

      // ACROSS bags a datatype may drift: one table per (datatype, md5)
      // variant, definition = the message definition text
      val typeGroups = EtlCore.nameVariants(
        indexes.flatMap { case (b, index) =>
          index.connections.map(c => (c.datatype, c.md5sum, c.msgDef, b))
        }, naming, _.replace("/", "_")) // reference MessageTable.cpp:315

      // ONE scan relation over the whole bag list (the "bags" option) —
      // not an N-way union, which bloats the analyzer at fleet scale
      val raw0 = spark.read.format("rosbag")
        .option("bags", graft.ros.bag.RosbagDataSource.bagsSpec(bags)).load()
      val raw = maxMessages.map(n => raw0.limit(n.toInt).toDF()).getOrElse(raw0)

      // Stage the spine meta to parquet BEFORE the seqno operator. The
      // range-partition seqno needs two passes over its input (bound
      // sampling + shuffle write); run those against a kilobytes-per-
      // million-rows parquet staging table instead of the bag source, so
      // every bag chunk is read (and decompressed) exactly ONCE for the
      // spine. Meta-only projection: the source's column pruning skips
      // payload decode entirely. In stagedByType mode the same single
      // pass ALSO stages the raw bytes partitioned by datatype — the
      // only bag scan of the whole ETL.
      val metaCols = Seq(col("bag_path"), col("chunk_idx"), col("offset"), col("time_sec"),
        col("time_nsec"), col("size"), col("connection_id"),
        col("header_stamp_sec"), col("header_stamp_nsec"), col("data_crc32"))
      val stageRead =
        if (stagedByType) EtlCore.stage(
          raw.select(metaCols :+ col("datatype") :+ col("data"): _*), stageDir, Some("datatype"))
        else EtlCore.stage(raw.select(metaCols: _*), stageDir)
      jobs.lap("spine-stage-write")

      // Exact payload bytes per (bag, connection) — one aggregate over
      // the staged meta (kilobytes; no bag re-scan), run beside the seqno
      // shuffle below. It sizes each per-type write by the bytes that
      // type actually writes.
      val connBytesF = jobs.async("connection bytes") {
        stageRead.groupBy(col("bag_path"), col("connection_id"))
          .agg(sum(col("size").cast("long")))
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      }

      // Global seqno in merge-time order with storage-order tie-break —
      // rosbag::View semantics (reference rosbag2parquet.cpp:45-52;
      // seqno FlattenedRosWriter.cpp:195,256). The meta select prunes
      // the staged blob pages out of the read in stagedByType mode.
      // bag_path in the tie-break: rosbag::View merge-time order within a
      // bag, deterministic (name-sorted) interleave across equal-time
      // rows from different bags.
      val spine = EtlCore.globalSeqno(stageRead.select(metaCols: _*),
        Seq(col("time_sec"), col("time_nsec"), col("bag_path"), col("chunk_idx"), col("offset")),
        seqnoOffset)

      // Messages fact table (reference FlattenedRosWriter.cpp:49-87), plus
      // the sensor-time header stamp (nullable; reference TODO
      // rosbag2parquet.cpp:28-30) read in the source from the wire prefix.
      val messages0 = spine.select(
        col("seqno"), col("bag_path"), col("time_sec"), col("time_nsec"), col("size"),
        col("connection_id"),
        col("header_stamp_sec"), col("header_stamp_nsec"), col("data_crc32"))
      val messages = if (nativeTimestamp)
        messages0.withColumn("time",
          EtlCore.ntzMicros("cast(time_sec as bigint) * 1000000 + time_nsec div 1000"))
      else messages0

      // `_seqno` row groups of about a quarter of the messages one typed
      // scan partition packs (from the chunk-info counts), so routing a
      // partition reads little beyond its own rows
      val rawBytes = indexes.map(_._2.chunks.map(_.uncompressedSize.toLong).sum).sum
      val indexed = indexes.flatMap(_._2.chunks).flatMap(_.connCounts.getOrElse(Nil))
        .map(_._2.toLong).sum
      val groupRows = Some(indexed).filter(_ > 0).map { n =>
        val (scanBudget, _) = graft.ros.PartitionPacking.budgetBytes(rawBytes)
        math.max(1024L, (n.toDouble * scanBudget / math.max(1L, rawBytes) / 4).toLong)
      }
      val seqnoMap = stageSeqnoMap(spine, seqnoDir, groupRows)
      jobs.lap("seqno-stage")
      val connBytes = Await.result(connBytesF, Duration.Inf)
      val (writeBudget, _) = graft.ros.PartitionPacking.budgetBytes(connBytes.values.sum)
      val maxSplitBytes = spark.sessionState.conf.filesMaxPartitionBytes
      def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / math.max(1L, b)

      // one table per DATATYPE variant (two same-type connections may
      // carry textually different but md5-equal definition strings)
      val writes = typeGroups.map { v =>
        // Write partitions sized by the bytes this table writes (exact,
        // from the staged sizes) against the run's per-core budget — the
        // reference cuts each table's row groups at a byte target too
        // (TableBuffer.cpp:149-174). Floor: no task walks more chunk
        // bytes than one Spark file split, so sparse types and slow
        // codecs keep their scan parallelism (at roughly parallelism x
        // maxPartitionBytes and above, this IS the scan's own packing).
        // coalesce merges only ADJACENT scan partitions and never
        // exceeds the count the scan planned.
        val bagSet = v.files.toSet
        val inGroupBags = indexes.filter { case (b, _) => bagSet(b) }
        val typeBytes = inGroupBags.map { case (b, index) =>
          index.connections.filter(c => c.datatype == v.name && c.md5sum == v.md5)
            .map(c => connBytes.getOrElse((b, c.connId), 0L)).sum
        }.sum
        val walked = inGroupBags.map(_._2.chunks.map(_.uncompressedSize.toLong).sum).sum
        val writeParts = math.max(1L, math.max(ceilDiv(typeBytes, writeBudget),
          ceilDiv(walked, maxSplitBytes))).min(Int.MaxValue.toLong).toInt
        EtlCore.TableWrite(s"per-type ${v.table}", () => {
          // `frame`: the per-type frame. `rawForSide`: a lineage for the
          // side-table write that does NOT pay the payload decode. In scan
          // mode Catalyst pruning on the typed source gives that for free
          // (the side write prunes to seqno+data, skipping the wire walk);
          // in staged mode decodeRows goes through an RDD that is opaque
          // to pruning, so the side table reads the staged bytes directly.
          val (frame, rawForSide) = if (stagedByType) {
            // decode this variant's bytes from its staging partition — the
            // bags themselves are never re-read. bag_path narrows to the
            // bags carrying THIS md5 variant (within a bag the md5 is
            // unique per datatype, so bag_path fully disambiguates).
            val part = stageRead
              .filter(col("datatype") === v.name && col("bag_path").isin(v.files: _*))
              .join(seqnoMap.drop("time_sec"), Seq("bag_path", "chunk_idx", "offset"))
              .select(col("seqno"), col("connection_id"), col("bag_path"), col("data"))
            val decoded = decodeRows(spark, part, MsgDefParser.parse(v.name, v.definition))
            (if (keepRawBlob) decoded else decoded.drop("data"), part)
          } else {
            // a row-limited run numbers only its prefix: the messages
            // outside it have no seqno and drop (the join's contract)
            val t = typedTable(spark, v, seqnoDir, keepRawBlob,
              dropUnnumbered = maxMessages.isDefined)
            (t, t)
          }
          if (blobSideTable) {
            val (slim, sideFromFrame) = graft.multimodal.MultimodalOps
              .externalizeBlobs(frame, "data", "seqno", blobThreshold)
            // scan mode: the returned side prunes to seqno+data through
            // the typed source (no payload decode). Staged mode: decode
            // is RDD-opaque to pruning, so build the side from the
            // staged bytes — same isBigBlob cutoff, different lineage.
            val side =
              if (stagedByType) rawForSide
                .filter(graft.multimodal.MultimodalOps.isBigBlob(col("data"), blobThreshold))
                .select(col("seqno"), col("data"))
              else sideFromFrame
            EtlCore.writeTable(out, s"${v.table}_blobs", side.coalesce(writeParts), append) +
              EtlCore.writeTable(out, v.table, slim.coalesce(writeParts), append)
          } else EtlCore.writeTable(out, v.table, frame.coalesce(writeParts), append)
        }, lap = s"per-type scan->write ${v.table}")
      }
      EtlCore.Plan(messages, connections, typeGroups, writes)
    }
    Info(bagName, slice.count, slice.sizeBytes, slice.crcXor)
  }

  /** Stage the seqno map `dir` (`_seqno`): one row per message, its
    * storage identity (bag_path, chunk_idx, offset), `time_sec` and
    * seqno — ints only, written in the spine's own time-range
    * partitions with no new shuffle, in row groups of at most
    * `groupRows` rows. This layout is the typed scan's `seqnoFrom`
    * input contract ([[graft.ros.bag.RosbagSeqno]]): files sorted by
    * (bag_path, chunk_idx, offset), so a scan partition's chunks route
    * by the files' `time_sec` range and the row groups'
    * bag_path/chunk_idx statistics.
    */
  private[etl] def stageSeqnoMap(spine: DataFrame, dir: String,
      groupRows: Option[Long]): DataFrame =
    EtlCore.stage(spine
      .select(col("bag_path"), col("chunk_idx"), col("offset"), col("time_sec"), col("seqno"))
      .sortWithinPartitions(col("bag_path"), col("chunk_idx"), col("offset")), dir,
      options = groupRows.map(n => "parquet.block.row.count.limit" -> n.toString).toMap)

  /** One per-type table of a default conversion: the variant's typed
    * scan stamping seqnos from the staged map `seqnoDir`, projected to
    * the per-type frame ([[EtlCore.typedColumns]]). A message the map
    * does not number fails the write, or drops with `dropUnnumbered`.
    */
  private[etl] def typedTable(spark: SparkSession, v: EtlCore.Variant[String],
      seqnoDir: String, keepRawBlob: Boolean, dropUnnumbered: Boolean): DataFrame = {
    val typed = spark.read.format("rosbag")
      .option("bags", graft.ros.bag.RosbagDataSource.bagsSpec(v.files))
      .option("datatype", v.name).option("md5", v.md5)
      .option("includeRaw", keepRawBlob.toString)
      .option("seqnoFrom", seqnoDir)
      .option("seqnoMissing", if (dropUnnumbered) "drop" else "error")
      .load()
    typed.select(EtlCore.typedColumns(typed,
      Set("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec", "connection_id"),
      Seq("connection_id", "bag_path"), keepRawBlob): _*)
  }

  /** Per-table result of [[compact]]. `rewritten = false` means the
    * table was already at or under its target file count and was left
    * untouched.
    */
  final case class CompactStat(table: String, filesBefore: Int,
      filesAfter: Int, bytes: Long, rewritten: Boolean)

  /** Small-file compaction for an ETL output directory — the table
    * maintenance a fleet-ingest corpus needs. Every `runIncremental`
    * call and every streaming trigger APPENDS files; a year of daily
    * increments leaves thousands of tiny parquet files per table, and
    * at 100 TB the scan planner then drowns in per-file overhead
    * (footer reads, task scheduling, row groups far below the HDFS
    * block size). This is the table-lifecycle generalization of the
    * reference's row-group sizing discipline (TableBuffer.cpp:149-174
    * buffers rows until a target byte size before cutting a row
    * group): rewrite each table's files so each is ~`targetFileBytes`.
    *
    * Semantics preserved:
    *  - rows are IDENTICAL before and after (pure file re-layout);
    *  - tables carrying `seqno` are range-partitioned and sorted by it,
    *    so file k holds a contiguous seqno range below file k+1 — the
    *    storage order consumers (and parquet min/max pruning on seqno)
    *    rely on;
    *  - the `_tables.json` manifest, Vertica DDL and incremental
    *    done-set are untouched — a subsequent `runIncremental` appends
    *    exactly as before;
    *  - the incremental commit record (Connections / Channels /
    *    Topics, per layout) is compacted LAST — belt-and-braces on top
    *    of the per-table swap recovery: if compaction dies midway, the
    *    commit record still matches some fully-converted state.
    *
    * Crash safety: each table swaps via rename — new files land in
    * `.compact_tmp/<table>`, the live table moves to
    * `.compact_trash/<table>`, the tmp moves into place, the trash is
    * dropped. A recovery preamble on the NEXT compact restores any
    * table stranded in trash (live missing) and clears stale tmp
    * output, so every crash window is recoverable and never loses
    * rows. Run it as the single maintainer of the directory — not
    * concurrently with an in-flight increment or streaming query
    * writing the same tables (same discipline every table-maintenance
    * system requires).
    */
  def compact(spark: SparkSession, outDir: String,
      targetFileBytes: Long = 128L << 20): Seq[CompactStat] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    import org.apache.hadoop.fs.Path
    val root = new Path(outDir)
    val fs = root.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    require(fs.exists(root), s"no such ETL output dir: $outDir")
    val tmpRoot = new Path(root, ".compact_tmp")
    val trashRoot = new Path(root, ".compact_trash")

    // recovery preamble: a prior compact may have died between swap
    // renames — a table sitting in trash with no live counterpart IS
    // the live data; restore it. Tmp output is always incomplete
    // (the swap starts only after a successful write) — drop it.
    if (fs.exists(trashRoot)) {
      fs.listStatus(trashRoot).foreach { st =>
        val live = new Path(root, st.getPath.getName)
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live), s"recovery rename failed for ${st.getPath}")
      }
      fs.delete(trashRoot, true)
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)

    def dataFiles(table: Path) = fs.listStatus(table).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

    val tables = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val commitRecordNames =
      Set("Connections.parquet", "Channels.parquet", "Topics.parquet")
    val (commitRecs, others) = tables.partition(p => commitRecordNames(p.getName))
    try {
      (others ++ commitRecs).toSeq.map { table =>
        val name = table.getName
        // a streaming parquet SINK dir is transactional (_spark_metadata
        // log lists the valid files) — rewriting files under it would
        // corrupt the log. Compact applies to BagEtl table layouts only.
        require(!fs.exists(new Path(table, "_spark_metadata")),
          s"$name has a _spark_metadata streaming-sink log; compact would corrupt it")
        val before = dataFiles(table)
        val bytes = before.map(_.getLen).sum
        val targetFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (before.length <= targetFiles)
          CompactStat(name, before.length, before.length, bytes, rewritten = false)
        else {
          val df = spark.read.parquet(table.toString)
          val relaid =
            if (df.columns.contains("seqno"))
              df.repartitionByRange(targetFiles, col("seqno"))
                .sortWithinPartitions("seqno")
            else if (df.columns.contains("bag_path") && df.columns.contains("connection_id"))
              df.repartitionByRange(targetFiles, col("bag_path"), col("connection_id"))
                .sortWithinPartitions("bag_path", "connection_id")
            else df.repartition(targetFiles)
          val tmp = new Path(tmpRoot, name)
          relaid.write.mode(SaveMode.ErrorIfExists)
            .option("compression", "snappy").parquet(tmp.toString)
          val trash = new Path(trashRoot, name)
          fs.mkdirs(trashRoot)
          require(fs.rename(table, trash), s"compact swap-out rename failed for $name")
          require(fs.rename(tmp, table), s"compact swap-in rename failed for $name")
          fs.delete(trash, true)
          CompactStat(name, before.length, dataFiles(table).length, bytes, rewritten = true)
        }
      }
    } finally {
      fs.delete(tmpRoot, true)
      if (fs.exists(trashRoot) && fs.listStatus(trashRoot).isEmpty)
        fs.delete(trashRoot, true)
    }
  }

  /** Flattened per-type DataFrame from (seqno, connection_id,
    * bag_path, data) rows: seqno + flattened payload columns +
    * connection_id + bag_path + raw data blob ([[EtlCore.decodeRows]]).
    * The reserved set is the typed source's (RosbagTypedRead.reserved)
    * so the staged and per-type-scan ETL modes emit identical column
    * names.
    */
  def decodeRows(spark: SparkSession, part: DataFrame, bundle: RosMsgBundle): DataFrame =
    EtlCore.decodeRows(spark, part, RosSchemaMapper.flatSchema(bundle),
      Set("seqno", "connection_id", "data", "bag_path", "chunk_idx", "offset",
        "time_sec", "time_nsec"),
      RosSchemaMapper.decode(bundle, _), Seq("connection_id", "bag_path"),
      keepRawBlob = true)
}

/** Parquet/Spark schema → Vertica DDL (reference utils.h:99-136
  * GetVerticaType; loader script visible in README.md:100).
  */
object VerticaDdl {
  def verticaType(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case IntegerType | LongType | ShortType | ByteType => "INTEGER"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE PRECISION"
    case StringType => "VARCHAR(65000)"
    case BinaryType => "LONG VARBINARY(10485760)"
    case _: ArrayType | _: StructType => "LONG VARBINARY(10485760)"  // opaque
    case other => throw new IllegalArgumentException(s"no Vertica mapping for $other")
  }

  def createTable(name: String, schema: StructType): String = {
    val cols = schema.fields.map(f => s"  ${f.name} ${verticaType(f.dataType)}")
      .mkString(",\n")
    s"CREATE TABLE $name (\n$cols\n);"
  }
}
