package graft.ros.mcap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ros.etl.EtlCore

/** MCAP → parquet-tables ETL: the reference's route-by-type dataflow
  * (O4, reference FlattenedRosWriter.cpp:273-289 + README.md:108-121)
  * over the ROS 2 container, at full contract parity with BagEtl:
  *
  *  - a `Messages` spine (meta only) with the DENSE GLOBAL `seqno` in
  *    log-time order (reference FlattenedRosWriter.cpp:195,256 —
  *    assigned by the distributed prefix-sum operator, never a
  *    single-partition window);
  *  - a `Channels` dimension (the Connections analog);
  *  - one flattened parquet table per typed schema (`ros2msg` and
  *    `protobuf` encodings, McapPayload.typedEncodings), with the same
  *    drift-namespacing contract as BagEtl: a schema name carrying
  *    more than one definition across the input writes one table per
  *    variant (`<table>__<md5prefix>`), never a silent mis-decode, and
  *    the `_tables.json` manifest (BagEtl's format) keeps the naming
  *    stable across incremental appends;
  *  - a `RawMessages` table holding the payload bytes of every channel
  *    NOT routed to a typed table (untyped schema encodings:
  *    jsonschema, flatbuffer, schema-less) — the reference's "you don't
  *    lose any data" retention (README.md:106). Routed payloads are
  *    NOT duplicated there (their typed columns — plus the optional
  *    raw blob on the typed table — are the retention);
  *  - Vertica DDL (`vertica_load_tables.sql`, O14) for every table
  *    created by the run;
  *  - versioned output dirs on `run` and incremental appends via
  *    `runIncremental` (O18), with Channels (written last) as the
  *    increment's commit record — the same crash-ordering contract as
  *    BagEtl, from the shared write phase (graft.ros.etl.EtlCore).
  *
  * Scale shape: ONE scan of the container stages (spine meta + the
  * unrouted channels' raw bytes) to parquet; the two-pass seqno and
  * the RawMessages write read the staging table, not the mcap files.
  * Per-schema tables are typed source reads that plan only the files
  * carrying the variant and decode only matching channels (the
  * route-by-type dispatch IS predicate pushdown), running as
  * concurrent jobs beside Messages and RawMessages. Channels whose message encoding does not match
  * their schema encoding's decoder (cdr for ros2msg, protobuf for
  * protobuf) fail the typed read loudly (the typed reader's contract)
  * rather than decode garbage.
  *
  * `BagEtl.compact` applies to this layout unchanged (tables carry
  * `seqno`, so compaction range-partitions and sorts by it).
  */
object McapEtl {
  /** The reference's `info` result (rosbag2parquet.h:6-10) shape for an
    * MCAP input, plus the per-type table row counts. `crcXor` is the
    * bit-xor of per-message CRC32s — order-independent, any single
    * corrupted message flips it (reference TODO rosbag2parquet.cpp:28).
    */
  final case class Info(name: String, messages: Long, channels: Long,
                        sizeBytes: Long, crcXor: Long, tables: Map[String, Long])

  /** Table name from a schema name — the reference's sanitize rule
    * (MessageTable.cpp:315) widened to the ROS 2 three-segment names.
    */
  def tableName(schemaName: String): String =
    schemaName.replaceAll("[^A-Za-z0-9]", "_")

  /** Run the conversion into a fresh (versioned) output dir.
    * `maxMessages` mirrors --max_mbs's test-scope-limiting role
    * (reference main.cpp:26) with row granularity; `keepRawBlob`
    * retains the raw CDR bytes on typed tables (README.md:106);
    * `nativeTimestamp` adds a `log_time_ts` TIMESTAMP_NTZ(micros)
    * column to Messages (reference TODO rosbag2parquet.cpp:31-32) —
    * floor-of-nanos, built with pure NTZ arithmetic so it is
    * timezone-independent like BagEtl's.
    *
    * `stagedBySchema` is the single-pass mode (BagEtl's stagedByType
    * twin): the ONE container scan stages ALL payload bytes to parquet
    * partitioned by a schema-route column, and each per-variant table
    * decodes its own partition's bytes — every chunk is read and
    * decompressed exactly ONCE for the whole ETL, where the default
    * re-scan mode decompresses a chunk once per schema it routes.
    * Costs one extra write of the payload bytes; wins when files
    * carry many schemas or compressed chunks (the fleet shape).
    */
  def run(spark: SparkSession, path: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          nativeTimestamp: Boolean = false, stagedBySchema: Boolean = false): Info =
    runFiles(spark, McapIO.resolveFiles(path), new java.io.File(path).getName,
      EtlCore.versionedOutputDir(outDir), maxMessages, keepRawBlob, nativeTimestamp,
      stagedBySchema)

  /** Incremental multi-file conversion — BagEtl.runIncremental's
    * contract over MCAP inputs ([[graft.ros.etl.EtlCore.incremental]]):
    * ETL only the files under `path` not yet recorded in `outDir`
    * (done-set = Channels.file_path alone — Channels is written LAST,
    * so its presence implies the whole increment landed), appending
    * rows with seqnos continuing after the committed maximum and table
    * naming pinned by the `_tables.json` manifest. On a fresh/absent
    * outDir this is exactly `run` without the versioned-dir redirect (a
    * pre-created outDir must not fork the corpus into outDir.1 on every
    * call).
    */
  def runIncremental(spark: SparkSession, path: String, outDir: String,
          keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false,
          stagedBySchema: Boolean = false): Info = {
    val dirName = new java.io.File(path).getName
    EtlCore.incremental(spark, outDir, "Channels", "file_path",
        McapIO.resolveFiles(path), Info(dirName, 0L, 0L, 0L, 0L, Map.empty)) {
      (files, offset, naming, append) =>
        runFiles(spark, files, dirName, outDir, None, keepRawBlob, nativeTimestamp,
          stagedBySchema, offset, naming, append)
    }
  }

  /** Spine meta columns (everything but the payload blob). */
  private val metaColNames = Seq("file_path", "chunk_idx", "offset", "log_time",
    "publish_time", "sequence", "size", "channel_id", "topic", "schema_name",
    "schema_encoding", "message_encoding", "data_crc32")

  private def runFiles(spark: SparkSession, files: Seq[String], name: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          nativeTimestamp: Boolean, stagedBySchema: Boolean = false,
          seqnoOffset: Long = 0L,
          naming: Map[(String, String), String] = Map.empty,
          append: Boolean = false): Info = {
    val stageDir = s"$out/_spine"
    val seqnoDir = s"$out/_seqno"
    val (slice, plan) = EtlCore.convert(spark, out, files, "Channels",
        seqnoOffset, append, naming, Seq(seqnoDir, stageDir)) { _ =>
      val channels = McapTables.channels(spark, McapDataSource.filesSpec(files))

      // (name, md5-of-schema-bytes) variants across the files, with the
      // schema (encoding, bytes) as the definition.
      // A typed-encoding schema whose descriptor cannot flatten (a
      // recursive protobuf type, repeated bytes, corrupt descriptor
      // bytes) must not sink the whole run: its channels fall back to
      // RawMessages retention like any untyped encoding ("you don't
      // lose any data"). Decided per NAME — the route key is
      // schema_name, so a name with one good and one broken variant
      // stays raw wholesale rather than splitting one key across routes.
      val typedSchemas = files.flatMap(f => McapIO.scanIndex(f).schemas.values
        .filter(s => McapPayload.typedEncodings(s.encoding))
        .map(s => (s.name, McapTypedRead.md5hex(s.data), (s.encoding, s.data), f)))
      // flatSchema, not bundle alone: bundle construction does not
      // resolve references for ros2msg/ros2idl, so an incomplete
      // dependency closure must fail THIS gate (and fall back to raw
      // retention), not a per-type job that would sink the whole run
      val flattenable: Set[String] = typedSchemas.groupBy(_._1).collect {
        case (nm, rows) if rows.forall { case (_, _, (enc, data), _) =>
          scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
            McapPayload.bundle(enc, nm, data))).isSuccess } => nm
      }.toSet
      val routed = (c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
        if (flattenable.isEmpty) lit(false)
        else c.isin(McapPayload.typedEncodings.toSeq: _*) &&
          n.isin(flattenable.toSeq: _*)
      val variants = EtlCore.nameVariants(
        typedSchemas.filter(t => flattenable(t._1)), naming, tableName)

      // ONE scan of the container. Default mode: spine meta for every
      // message plus the raw bytes of channels NOT routed to a typed
      // table (nulled for routed channels, so their blobs never ride
      // this write); typed tables then re-scan their files. Staged mode:
      // the same single pass ALSO stages every routed payload,
      // partitioned by a schema-route column — each chunk is read and
      // decompressed exactly ONCE for the whole ETL.
      val raw0 = spark.read.format("mcap")
        .option("files", McapDataSource.filesSpec(files)).load()
      val raw = maxMessages.map(n => raw0.limit(n.toInt).toDF()).getOrElse(raw0)
      val metaCols = metaColNames.map(col)
      val stageRead =
        if (stagedBySchema)
          // `_route` rather than schema_name itself: an empty schema name
          // (schema-less channel) is not a usable partition value (Spark
          // reads empty partition strings back as null)
          EtlCore.stage(raw.select(metaCols :+ col("data") :+
              when(routed(col("schema_encoding"), col("schema_name")),
                  col("schema_name"))
                .otherwise(lit("__raw")).as("_route"): _*), stageDir, Some("_route"))
        else
          EtlCore.stage(raw.select(metaCols :+
              when(routed(col("schema_encoding"), col("schema_name")),
                  lit(null).cast("binary"))
                .otherwise(col("data")).as("data"): _*), stageDir)

      // Global seqno in log-time order with stable storage tie-break —
      // the two-pass range-partition operator runs against the staged
      // meta (parquet column pruning skips the raw-bytes pages), never
      // re-reading the mcap files.
      val spine = EtlCore.globalSeqno(stageRead.select(metaCols: _*),
        Seq(col("log_time"), col("file_path"), col("chunk_idx"), col("offset")), seqnoOffset)
      val messages0 = spine.select(col("seqno") +: metaCols: _*)
      // log_time is u64 nanos (never negative), so `div` floors
      val messages = if (nativeTimestamp)
        messages0.withColumn("log_time_ts", EtlCore.ntzMicros("log_time div 1000"))
      else messages0

      // (file_path, chunk_idx, offset) -> seqno map: ints + the path —
      // blobs never ride a seqno shuffle; typed tables join on the
      // stable storage identity.
      val seqnoMap = EtlCore.stage(
        spine.select(col("file_path"), col("chunk_idx"), col("offset"), col("seqno")), seqnoDir)

      // typed-scan frame columns that are NOT payload
      val metaInTyped = Set("file_path", "chunk_idx", "offset", "log_time",
        "publish_time", "sequence", "channel_id", "topic")

      val typed = variants.map { v =>
        val (enc, schemaData) = v.definition
        EtlCore.TableWrite(s"per-type ${v.table}", () => {
          val df = if (stagedBySchema) {
            // decode THIS variant's staged bytes — the container files
            // are never re-read. The route partition holds every
            // variant of the name; the variant's channels (a file can
            // legally carry two same-name variants) are selected via a
            // broadcast of the driver-known (file, channel) dimension.
            val chanRows = v.files.flatMap { f =>
              val idx = McapIO.scanIndex(f)
              idx.channels.values.collect {
                case c if idx.schemas.get(c.schemaId).exists(s =>
                    s.name == v.name && McapTypedRead.md5hex(s.data) == v.md5) =>
                  (f, c.id)
              }
            }
            import spark.implicits._
            val chanDim = chanRows.toDF("file_path", "channel_id")
            val part = stageRead
              .filter(col("_route") === v.name && col("file_path").isin(v.files: _*))
              .join(broadcast(chanDim), Seq("file_path", "channel_id"))
              .join(seqnoMap, Seq("file_path", "chunk_idx", "offset"))
            EtlCore.decodeRows(spark, part,
              graft.ros.RosSchemaMapper.flatSchema(McapPayload.bundle(enc, v.name, schemaData)),
              McapTypedRead.reserved, McapPayload.decoder(enc, v.name, schemaData),
              Seq("channel_id", "file_path"), keepRawBlob)
          } else {
            val typed = spark.read.format("mcap")
              .option("files", McapDataSource.filesSpec(v.files))
              .option("schema_name", v.name).option("schema_md5", v.md5)
              .option("includeRaw", keepRawBlob.toString)
              .load()
            EtlCore.typedFrame(typed, seqnoMap, Seq("file_path", "chunk_idx", "offset"),
              metaInTyped, Seq("channel_id", "file_path"), keepRawBlob)
          }
          EtlCore.writeTable(out, v.table, df, append)
        })
      }

      // RawMessages: unrouted channels' payloads, from the staging
      // table (the mcap files are not re-read). Written only when such
      // channels exist — decided from the driver-side dimension, no
      // wasted job otherwise.
      val hasUnrouted = files.exists { f =>
        val idx = McapIO.scanIndex(f)
        idx.channels.values.exists(c =>
          !idx.schemas.get(c.schemaId).exists(sc =>
            McapPayload.typedEncodings(sc.encoding) && flattenable(sc.name)))
      }
      val rawWrite = if (!hasUnrouted) Nil else Seq(EtlCore.TableWrite("RawMessages", () =>
        EtlCore.writeTable(out, "RawMessages", stageRead
          // staged mode prunes to the __raw route partition directly
          .filter(if (stagedBySchema) col("_route") === "__raw"
                  else !routed(col("schema_encoding"), col("schema_name")))
          .join(seqnoMap, Seq("file_path", "chunk_idx", "offset"))
          .select(col("seqno"), col("channel_id"), col("topic"),
            col("schema_name"), col("schema_encoding"), col("message_encoding"),
            col("file_path"), col("data")), append)))
      EtlCore.Plan(messages, channels, variants, typed ++ rawWrite)
    }
    Info(name, slice.count, plan.dimension.count(), slice.sizeBytes, slice.crcXor,
      EtlCore.tableCounts(spark, out, plan.variants.map(_.table), "file_path", files, append))
  }
}
