package graft.ros.db3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ros.etl.EtlCore

/** Route-by-type ETL over rosbag2 sqlite storage — the third container
  * under the SAME contract surface as BagEtl (rosbag1) and McapEtl
  * (MCAP):
  *
  *  - `Messages.parquet`: the spine — every message's metadata plus a
  *    payload CRC32, under a DENSE GLOBAL `seqno` in timestamp order
  *    (distributed prefix-sum, (file_path, msg_id) tie-break);
  *  - `Topics.parquet`: the Connections/Channels dimension;
  *  - one flattened table per (type, md5-of-definition) VARIANT from
  *    the files' message_definitions tables, decoding CDR payloads
  *    through the shared ros2msg → flatSchema stack; a type whose
  *    definition drifts across files writes one table per variant
  *    (`<table>__<md5prefix>`), never a silent mis-decode, with
  *    `_tables.json` keeping names stable across increments;
  *  - `RawMessages.parquet`: byte-exact retention of every message NOT
  *    routed to a typed table (no definitions table — pre-Humble —,
  *    unsupported encodings, unflattenable definitions, non-cdr
  *    serialization) — "you don't lose any data". Both `ros2msg` and
  *    `ros2idl` definitions route typed (McapPayload dispatch);
  *  - Vertica DDL for every table created; versioned output dirs on
  *    `run`; `runIncremental` appends new files with continuing seqnos
  *    and Topics written LAST as the increment's commit record — the
  *    done-set is Topics.file_path alone, so a crash anywhere before
  *    the Topics write redoes the file, after crash repair purged the
  *    dead attempt's rows: exactly-once output, never silent holes
  *    (the shared write phase and repair, graft.ros.etl.EtlCore).
  *
  * Scale shape: ONE pass over the sqlite b-trees (the `db3` source's
  * per-subtree partitions) stages meta + payload bytes to parquet
  * partitioned by a type-route column; the seqno passes and every
  * typed decode read the staging table, so each database file is
  * walked exactly once regardless of type count. (Unlike the bag/mcap
  * ETLs there is no cheaper re-scan mode to offer: sqlite interleaves
  * topics within shared b-tree pages, so any per-type re-scan walks
  * every page anyway — staging is strictly better here.)
  */
object Db3Etl {

  final case class Info(name: String, messages: Long, topics: Long,
                        bytes: Long, crcXor: Long, tables: Map[String, Long])

  def tableName(typeName: String): String =
    typeName.replaceAll("[^A-Za-z0-9]", "_")

  def run(spark: SparkSession, path: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          nativeTimestamp: Boolean = false): Info =
    runFiles(spark, Db3IO.resolveFiles(path), new java.io.File(path).getName,
      EtlCore.versionedOutputDir(outDir), maxMessages, keepRawBlob, nativeTimestamp)

  /** Incremental conversion, BagEtl/McapEtl's contract
    * ([[graft.ros.etl.EtlCore.incremental]]): only files not recorded
    * in the output's Topics (written LAST — the done-set is
    * Topics.file_path alone) are converted; seqnos continue past the
    * committed max; naming pinned by the manifest.
    */
  def runIncremental(spark: SparkSession, path: String, outDir: String,
          keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false): Info = {
    val dirName = new java.io.File(path).getName
    EtlCore.incremental(spark, outDir, "Topics", "file_path",
        Db3IO.resolveFiles(path), Info(dirName, 0L, 0L, 0L, 0L, Map.empty)) {
      (files, offset, naming, append) =>
        runFiles(spark, files, dirName, outDir, None, keepRawBlob, nativeTimestamp,
          offset, naming, append)
    }
  }

  private val metaColNames = Seq("file_path", "msg_id", "topic_id", "topic",
    "type", "serialization_format", "timestamp", "size", "data_crc32")

  private def runFiles(spark: SparkSession, files: Seq[String], name: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          nativeTimestamp: Boolean, seqnoOffset: Long = 0L,
          naming: Map[(String, String), String] = Map.empty,
          append: Boolean = false): Info = {
    val stageDir = s"$out/_stage"
    val seqnoDir = s"$out/_seqno"
    val (slice, plan) = EtlCore.convert(spark, out, files, "Topics",
        seqnoOffset, append, naming, Seq(seqnoDir, stageDir)) { _ =>
      // ONE metadata scan per file serves the dimension, the definition
      // census and the retention census alike — parallel across files
      val metas: Seq[(String, Db3IO.Db3Meta)] = Db3IO.scanMetas(files)
      val topicsDim = {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("topic_id", LongType, nullable = false),
          StructField("topic", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("serialization_format", StringType, nullable = false)))
        val rows = metas.flatMap { case (f, m) =>
          m.topics.toSeq.sortBy(_._1).map { case (id, (n, t, fmt)) => Row(f, id, n, t, fmt) } }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      }

      // definitions per (type, md5-of-text) variant. A type is routable
      // only when EVERY variant is ros2msg/ros2idl and FLATTENS (bundle
      // construction alone does not resolve references — flatSchema
      // does, so an incomplete dependency closure must fail HERE, not
      // inside a per-type job that would sink the whole run) — a split
      // would route one md5 typed and its drifted sibling raw.
      val allDefs = metas.flatMap { case (f, m) =>
        m.definitions.map { case (t, enc, text) => (t, enc, text, f) } }
      val flattenable: Set[String] = allDefs.groupBy(_._1).collect {
        case (t, rows) if rows.forall { case (_, enc, text, _) =>
          (enc == "ros2msg" || enc == "ros2idl") &&
            scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
              graft.ros.mcap.McapPayload.bundle(enc, t,
                text.getBytes("UTF-8")))).isSuccess } => t
      }.toSet

      // a message routes typed only if ITS OWN FILE defines the type:
      // a pre-Humble file can carry messages of a type another file
      // defines, and a type-only route would stage those rows typed,
      // exclude them from every variant's (per-file) decode, and lose
      // them — they belong in RawMessages
      val definedPairs: Set[String] = allDefs.collect {
        case (t, _, _, f) if flattenable(t) => s"$f\n$t" }.toSet

      val variants = EtlCore.nameVariants(
        allDefs.filter(d => flattenable(d._1)).map { case (t, enc, text, f) =>
          (t, graft.ros.mcap.McapTypedRead.md5hex(text.getBytes("UTF-8")), (enc, text), f) },
        naming, tableName)

      // ONE walk of the sqlite b-trees stages everything: meta + CRC +
      // payload bytes, partitioned by the type route.
      val raw0 = spark.read.format("db3")
        .option("files", Db3DataSource.filesSpec(files)).load()
      val raw = maxMessages.map(n => raw0.limit(n.toInt).toDF()).getOrElse(raw0)
      val routed =
        if (definedPairs.isEmpty) lit(false)
        else concat_ws("\n", col("file_path"), col("type"))
          .isin(definedPairs.toSeq: _*) &&
          col("serialization_format") === "cdr"
      val metaCols = metaColNames.map(col)
      val stageRead = EtlCore.stage(raw.withColumn("data_crc32", crc32(col("data")))
        .select(metaCols :+ col("data") :+
          when(routed, col("type")).otherwise(lit("__raw")).as("_route"): _*),
        stageDir, Some("_route"))

      val spine = EtlCore.globalSeqno(stageRead.select(metaCols: _*),
        Seq(col("timestamp"), col("file_path"), col("msg_id")), seqnoOffset)
      val messages0 = spine.select(col("seqno") +: metaCols: _*)
      // rosbag2 timestamps are u64 nanos, never negative, so `div` floors
      val messages = if (nativeTimestamp)
        messages0.withColumn("timestamp_ts", EtlCore.ntzMicros("timestamp div 1000"))
      else messages0

      val seqnoMap = EtlCore.stage(
        spine.select(col("file_path"), col("msg_id"), col("seqno")), seqnoDir)

      val typed = variants.map { v =>
        val (enc, text) = v.definition
        EtlCore.TableWrite(s"per-type ${v.table}", () => {
          // this VARIANT's rows: the route partition holds every
          // variant of the type; a file carries exactly one definition
          // per type, so variant membership is per FILE
          val part = stageRead
            .filter(col("_route") === v.name && col("file_path").isin(v.files: _*))
            .join(seqnoMap, Seq("file_path", "msg_id"))
          val bundle = graft.ros.mcap.McapPayload.bundle(enc, v.name, text.getBytes("UTF-8"))
          EtlCore.writeTable(out, v.table, EtlCore.decodeRows(spark, part,
            graft.ros.RosSchemaMapper.flatSchema(bundle), Db3TypedRead.reserved,
            graft.ros.mcap.CdrCodec.decode(bundle, _),
            Seq("msg_id", "timestamp", "topic_id", "file_path"), keepRawBlob), append)
        })
      }

      val hasUnrouted = metas.exists { case (f, m) =>
        m.topics.values.exists { case (_, t, fmt) =>
          !(definedPairs(s"$f\n$t") && fmt == "cdr") }
      }
      val rawWrite = if (!hasUnrouted) Nil else Seq(EtlCore.TableWrite("RawMessages", () =>
        EtlCore.writeTable(out, "RawMessages", stageRead
          .filter(col("_route") === "__raw")
          .join(seqnoMap, Seq("file_path", "msg_id"))
          .select(col("seqno"), col("topic_id"), col("topic"), col("type"),
            col("serialization_format"), col("file_path"), col("data")), append)))
      EtlCore.Plan(messages, topicsDim, variants, typed ++ rawWrite)
    }
    Info(name, slice.count, plan.dimension.count(), slice.sizeBytes, slice.crcXor,
      EtlCore.tableCounts(spark, out, plan.variants.map(_.table), "file_path", files, append))
  }
}
