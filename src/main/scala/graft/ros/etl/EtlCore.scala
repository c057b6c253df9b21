package graft.ros.etl

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Seqno

/** The container-neutral half of the three ETLs ([[BagEtl]],
  * `McapEtl`, `Db3Etl`). The reference converts in ONE pipeline — scan,
  * number, route by type, write, record (reference
  * rosbag2parquet.cpp:41-63) — and so does this engine: a container
  * contributes only its scan and staging projection, its seqno order
  * and join keys, its dimension table, its variant census and the
  * DataFrame for each per-variant table. Everything else lives here
  * once:
  *
  *  - the variant naming rule and the `_tables.json` manifest;
  *  - the incremental entry: bootstrap vs append, the done-set from the
  *    dimension table alone, crash repair, offset = committed + 1;
  *  - the write phase ([[convert]]): commit-record step 1; Messages,
  *    the per-variant tables and RawMessages as concurrent jobs in one
  *    job group, cancelled AND awaited on failure; the dimension table
  *    (the increment's COMMIT RECORD) last; staging cleanup; DDL and
  *    manifest; the Info observed on the Messages write; commit-record
  *    step 2;
  *  - the `_commit.json` protocol and the crash repair behind it.
  */
object EtlCore {
  private def conf() = graft.ros.bag.RosbagIO.hadoopConf()
  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf())

  def pathExists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  /** reference main.cpp:38-54: probe `<base>`, `<base>.1`, ... —
    * via Hadoop FS so remote outDirs (hdfs://, s3a://) version too.
    */
  def versionedOutputDir(base: String): String =
    if (!pathExists(base)) base
    else Iterator.from(1).map(i => s"$base.$i").find(c => !pathExists(c)).get

  /** One (name, md5) variant of a container's message types: its
    * definition (container-specific form), the input files carrying
    * it, and its output table.
    */
  final case class Variant[D](name: String, md5: String, definition: D,
      files: Seq[String], table: String)

  /** Name every variant of a census of (type name, md5, definition,
    * file) rows. A type may drift across files (SURVEY §7.4.3: a fleet
    * with a mid-life message-definition change); each variant becomes
    * its own table. Historical names (the manifest) win; a NEW variant
    * of a historically-known name, and every variant of a name drifting
    * within this run, get the md5-namespaced `<base>__<md5[:8]>` (the
    * legacy plain table keeps its variant and is never renamed).
    */
  def nameVariants[D](census: Seq[(String, String, D, String)],
      naming: Map[(String, String), String], base: String => String): Seq[Variant[D]] =
    census.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (nm, rows) =>
      val byMd5 = rows.groupBy(_._2).toSeq.sortBy(_._1)
      byMd5.map { case (md5, vs) =>
        val table = naming.getOrElse((nm, md5),
          if (byMd5.size == 1 && !naming.keys.exists(_._1 == nm)) base(nm)
          else s"${base(nm)}__${md5.take(8)}")
        Variant(nm, md5, vs.head._3, vs.map(_._4).distinct, table)
      }
    }

  /** `nativeTimestamp`: a TIMESTAMP_NTZ (micros) from an integer micros
    * expression — reference TODO rosbag2parquet.cpp:31-32. Built with
    * pure NTZ arithmetic (timestampadd on an NTZ epoch literal): a
    * timestamp_micros→NTZ cast would render the instant in the WRITER's
    * session timezone and shift the stored value for any non-UTC
    * session — this form is timezone-independent by construction.
    */
  def ntzMicros(micros: String): Column =
    expr(s"timestampadd(MICROSECOND, $micros, TIMESTAMP_NTZ '1970-01-01 00:00:00')")

  /** The dense global seqno over staged meta (the distributed
    * range-partition + prefix-sum operator), shifted by `offset` —
    * incremental appends continue after the committed maximum.
    */
  def globalSeqno(meta: DataFrame, order: Seq[Column], offset: Long): DataFrame = {
    val spine = Seqno.globalSeqno(meta, order)
    if (offset == 0L) spine else spine.withColumn("seqno", col("seqno") + lit(offset))
  }

  /** Write a scratch staging table and read it back. Overwrite: a hard
    * crash that skipped the cleanup cannot fail the redo with "path
    * already exists" (the commit-record contract depends on redo
    * working). The read-back passes the schema just written — without
    * it every read of a staging dir launches a footer-inference job.
    * `options`: parquet writer settings (e.g. the row-group row limit).
    */
  def stage(df: DataFrame, dir: String, partitionBy: Option[String] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    partitionBy.fold(w)(w.partitionBy(_)).option("compression", "snappy").parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** Flattened per-variant DataFrame from staged (seqno, trailing...,
    * data) rows: seqno + flattened payload columns + the `trailing`
    * frame columns (+ the raw blob) — the SAME frame (names, order,
    * types) the container's typed-source scan emits (column frame per
    * reference MessageTable.cpp:326-343; blob retention README.md:106).
    * Payload fields colliding with the source's `reserved` frame names
    * get `_field` (reserved names win — reference compat; e.g.
    * CompressedImage has a `data` field).
    */
  def decodeRows(spark: SparkSession, part: DataFrame, flat: StructType,
      reserved: String => Boolean, decode: Array[Byte] => Seq[Any],
      trailing: Seq[String], keepRawBlob: Boolean): DataFrame = {
    val payload = flat.fields.toSeq.map(f =>
      if (reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val tail = trailing.map(n => StructField(n, part.schema(n).dataType, nullable = false))
    val blob = if (keepRawBlob) Seq(StructField("data", BinaryType, nullable = false)) else Nil
    val outSchema = StructType(
      StructField("seqno", LongType, nullable = false) +: (payload ++ tail ++ blob))
    val k = trailing.size
    val rows = part.select((("seqno" +: trailing) :+ "data").map(col): _*).rdd.map { r =>
      val bytes = r.getAs[Array[Byte]](k + 1)
      Row.fromSeq(r.getLong(0) +: (decode(bytes) ++ (1 to k).map(r.get) ++
        (if (keepRawBlob) Seq(bytes) else Nil)))
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** The per-variant frame's columns from a container's typed-source
    * scan that carries `seqno`: seqno + payload columns + `trailing`
    * (+ the raw blob) — the frame [[decodeRows]] emits. `meta`: the
    * scan's non-payload columns.
    */
  def typedColumns(typed: DataFrame, meta: Set[String], trailing: Seq[String],
      keepRawBlob: Boolean): Seq[Column] = {
    val payload = typed.columns.toSeq.filterNot(c => meta(c) || c == "data" || c == "seqno")
    val blob = if (keepRawBlob) Seq("data") else Nil
    (("seqno" +: payload) ++ trailing ++ blob).map(col)
  }

  /** [[typedColumns]] of a typed-source scan joined to the seqno map on
    * the storage identity `keys`.
    */
  def typedFrame(typed: DataFrame, seqnoMap: DataFrame, keys: Seq[String],
      meta: Set[String], trailing: Seq[String], keepRawBlob: Boolean): DataFrame = {
    val joined = typed.join(seqnoMap, keys)
    joined.select(typedColumns(joined, meta, trailing, keepRawBlob): _*)
  }

  /** Write one table of the run — Append in an increment, ErrorIfExists
    * otherwise — and return its Vertica CREATE (O14) when this run
    * created it, "" when it appended: DDL describes tables, not rows.
    */
  def writeTable(out: String, table: String, df: DataFrame, append: Boolean): String = {
    val isNew = !append || !pathExists(s"$out/$table.parquet")
    write(df, s"$out/$table.parquet", append)
    if (isNew) VerticaDdl.createTable(table, df.schema) + "\n" else ""
  }

  private def write(df: DataFrame, path: String, append: Boolean): Unit =
    df.write.mode(if (append) SaveMode.Append else SaveMode.ErrorIfExists)
      .option("compression", "snappy").parquet(path)

  /** One concurrent table job of the write phase: `desc` names its
    * Spark jobs, `lap` its `GRAFT_ETL_TIMING` line (default `desc`);
    * `write` writes and returns the DDL it created.
    */
  final case class TableWrite(desc: String, write: () => String, lap: String = "")

  /** What a container hands the write phase: the Messages spine, its
    * dimension table, the variants it named (for the manifest) and the
    * per-variant (+ RawMessages) table jobs.
    */
  final case class Plan(messages: DataFrame, dimension: DataFrame,
      variants: Seq[Variant[_]], writes: Seq[TableWrite])

  /** The reference's `info` aggregate over THIS run's Messages slice. */
  final case class Slice(count: Long, sizeBytes: Long, crcXor: Long)

  /** One conversion's job group and phase clock. Every job a
    * conversion runs concurrently goes through [[async]], so a failure
    * can cancel AND await all of them before the staging dirs drop.
    * `GRAFT_ETL_TIMING=1` prints each phase's seconds to stderr.
    */
  final class Jobs private[EtlCore] (spark: SparkSession) {
    private implicit val ec: ExecutionContext = ExecutionContext.global
    private val timing = sys.env.contains("GRAFT_ETL_TIMING")
    private val group = s"graft-etl-${java.util.UUID.randomUUID()}"
    private val launched = new java.util.concurrent.ConcurrentLinkedQueue[Future[_]]()
    private var tLast = System.nanoTime()

    private def report(label: String, t0: Long): Unit = if (timing)
      System.err.println(f"[etl-timing] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2fs")

    /** Time the phase since the previous lap. */
    def lap(phase: String): Unit = {
      report(phase, tLast)
      tLast = System.nanoTime()
    }

    /** Run `body` as a job of this conversion's group, timed locally
      * (under concurrency, lap() deltas would time the whole phase) and
      * reported as `label` (default `desc`).
      */
    def async[T](desc: String, label: String = "")(body: => T): Future[T] = {
      val f = Future { scala.concurrent.blocking {   // blocking{}: Spark actions
        // park threads — without it the global EC caps concurrency at
        // CPU count and starves other users of the pool. Job groups are
        // thread-local, so each future sets it.
        spark.sparkContext.setJobGroup(group, desc, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          val r = body
          report(if (label.isEmpty) desc else label, t0)
          r
        // pooled EC thread: clear the thread-local group so later Spark
        // work on this thread isn't attributed to a dead ETL group with
        // interruptOnCancel it never asked for
        } finally spark.sparkContext.clearJobGroup()
      } }
      launched.add(f)
      f
    }

    /** Fail fast AND stop the siblings — AndFutureJobs so siblings
      * between jobs can't keep submitting against the dirs the caller's
      * finally deletes — then let every sibling unwind, so no write
      * commits files after this run has failed (the repair and redo
      * would race it).
      */
    private[EtlCore] def cancelAndAwait(): Unit = {
      spark.sparkContext.cancelJobGroupAndFutureJobs(group)
      launched.forEach(f => { Await.ready(f, Duration.Inf); () })
    }
  }

  /** The write phase every container conversion runs, in order:
    *  1. commit-record step 1 — the increment is declared in flight
    *     BEFORE any data write, so a crash anywhere below leaves a
    *     record naming its files and [[repairCrashedIncrement]] can
    *     purge its debris from footer metadata alone;
    *  1. the container's `plan` (census, staging, seqno);
    *  1. Messages, the per-variant tables and RawMessages as concurrent
    *     jobs (distinct output dirs, shared read-only staging: Spark
    *     interleaves their stages, overlapping one job's write/commit
    *     stalls with another's scan);
    *  1. the dimension table LAST, after every other write succeeded:
    *     it is the increment's COMMIT RECORD — the done-set derives
    *     from it alone, so a crash anywhere before it leaves the work
    *     unrecorded and the next increment purges and redoes it;
    *  1. the staging dirs drop (even on failure);
    *  1. the DDL script and the naming manifest;
    *  1. Info observed on the Messages write itself (an
    *     `Observation`: count, bytes, crc xor, max seqno of exactly
    *     the rows this run wrote) — no read-back of the table;
    *  1. commit-record step 2: the dimension landed, so the increment
    *     is committed — finalize the record with the new max. (A crash
    *     before this resolves via inflight ⊆ done: repair recovers the
    *     max from the Messages footers.)
    * Returns THIS run's Info slice and the container's plan.
    */
  def convert(spark: SparkSession, out: String, files: Seq[String],
      dimension: String, seqnoOffset: Long, append: Boolean,
      naming: Map[(String, String), String], staging: Seq[String])
      (plan: Jobs => Plan): (Slice, Plan) = {
    writeCommitRecord(out, seqnoOffset - 1, files)
    val jobs = new Jobs(spark)
    val info = org.apache.spark.sql.Observation()
    val (p, ddl) = try {
      val p = plan(jobs)
      val messagesWrite = jobs.async("Messages") {
        write(p.messages.observe(info,
          count(lit(1)).as("count"),
          coalesce(sum(col("size").cast("long")), lit(0L)).as("bytes"),
          coalesce(expr("bit_xor(data_crc32)"), lit(0L)).as("crcXor"),
          max(col("seqno")).as("maxSeqno")), s"$out/Messages.parquet", append)
      }
      // DDL is appended in the plan's (datatype-sorted) order for
      // deterministic output
      val tableDdl = p.writes.map(w => jobs.async(w.desc, w.lap)(w.write()))
      implicit val ec: ExecutionContext = ExecutionContext.global
      val ddl = Await.result(messagesWrite.zip(Future.sequence(tableDdl)), Duration.Inf)
        ._2.mkString
      jobs.lap("concurrent-writes")
      write(p.dimension, s"$out/$dimension.parquet", append)
      jobs.lap(s"$dimension-write")
      (p, ddl)
    } catch { case e: Throwable =>
      jobs.cancelAndAwait()
      throw e
    } finally staging.foreach { d =>
      val dp = new Path(d)
      fsOf(dp).delete(dp, true)
    }
    writeDdlFile(out, ddl, append)
    writeManifest(out, naming ++ p.variants.map(v => (v.name, v.md5) -> v.table))

    val r = info.get
    writeCommitRecord(out, r("maxSeqno") match {
      case null => seqnoOffset - 1
      case m: Long => math.max(seqnoOffset - 1, m)
    }, Nil)
    (Slice(r("count").asInstanceOf[Long], r("bytes").asInstanceOf[Long],
      r("crcXor").asInstanceOf[Long]), p)
  }

  /** Per-variant row counts of THIS run's slice (in append mode, the
    * rows of this run's files), read by the one column they filter on.
    */
  def tableCounts(spark: SparkSession, out: String, tables: Seq[String],
      pathCol: String, files: Seq[String], append: Boolean): Map[String, Long] = {
    val pathOnly = StructType(Seq(StructField(pathCol, StringType)))
    tables.map { t =>
      val df = spark.read.schema(pathOnly).parquet(s"$out/$t.parquet")
      t -> (if (append) df.filter(col(pathCol).isin(files: _*)) else df).count()
    }.toMap
  }

  /** Incremental multi-file conversion, shared by the three containers:
    * convert only the inputs not yet recorded in `outDir`, appending
    * rows with seqnos continuing after the committed maximum and table
    * naming pinned by the `_tables.json` manifest.
    *
    * Done-set = the DIMENSION table's `pathCol` ALONE. The dimension is
    * written last ([[convert]]), so its presence implies the whole
    * increment landed: for a normal file, Messages landed first; for a
    * zero-message file, its dimension rows ARE its complete output (a
    * Messages-only done-set would re-convert it every increment,
    * multiplying every message↔dimension join). Unioning in Messages
    * would mark a file done after a crash between the Messages and
    * dimension writes, leaving a permanent silent hole in the
    * dimension; dimension-only redoes that file after
    * [[repairCrashedIncrement]] purges the dead attempt's rows —
    * exactly-once output, no consumer-side dedup. (A file with zero
    * dimension rows AND zero messages writes nothing and is re-indexed
    * each increment — a no-op re-read, not duplication.)
    *
    * Bootstrap (no Messages) writes INTO outDir, without `run`'s
    * versioned-dir redirect: a pre-created outDir must not fork the
    * corpus into outDir.1, .2, ... on every call. A bootstrap that
    * died before its dimension commit is purged first
    * ([[purgeDeadBootstrap]]), so its redo converts from scratch.
    *
    * `convert(files, seqnoOffset, naming, append)` runs the container's
    * conversion; `empty` is the Info of an increment with nothing new.
    */
  def incremental[I](spark: SparkSession, outDir: String, dimension: String,
      pathCol: String, inputs: Seq[String], empty: => I)
      (convert: (Seq[String], Long, Map[(String, String), String], Boolean) => I): I = {
    val dimPath = s"$outDir/$dimension.parquet"
    if (!pathExists(dimPath) &&
        readCommitRecord(outDir).exists { case (c, fl) => c < 0 && fl.nonEmpty })
      purgeDeadBootstrap(outDir)
    if (!pathExists(s"$outDir/Messages.parquet"))
      return convert(inputs, 0L, Map.empty, false)
    val done =
      if (!pathExists(dimPath)) Set.empty[String]
      else {
        val dim = spark.read.parquet(dimPath)
        require(dim.columns.contains(pathCol),
          s"$outDir predates the $pathCol column — re-run the full ETL once")
        dim.select(col(pathCol)).distinct().collect().map(_.getString(0)).toSet
      }
    // crash repair + committed seqno max: a redo after a crash in the
    // data→commit-record window is exactly-once — the dead increment's
    // rows are purged part-file-granular before reconversion, and its
    // seqno range is re-used (dense, collision-free)
    val maxClean = repairCrashedIncrement(spark, outDir, pathCol, done, dimension)
    val todo = inputs.filterNot(done)
    if (todo.isEmpty) empty
    else convert(todo, maxClean + 1, readManifest(outDir), true)
  }

  /** A bootstrap that died before its dimension commit: the record
    * says nothing was ever committed (committed < 0) while files were
    * in flight, so every seqno-carrying table under `outDir` (Messages,
    * RawMessages, per-variant and blob side tables — or a bare dir a
    * failed write left) is that attempt's debris. (The DDL script and
    * manifest are written after the dimension, so it left none.) Drop
    * them all: a schema-preserving purge would leave the tables in
    * place, and the redo would then fail on ErrorIfExists (or, via the
    * append path, omit their CREATEs from the DDL).
    */
  private def purgeDeadBootstrap(outDir: String): Unit = {
    val outPath = new Path(outDir)
    val fs = fsOf(outPath)
    fs.listStatus(outPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".parquet"))
      .foreach { s =>
        if (footerSeqnoRanges(s.getPath.toString).isDefined)
          require(fs.delete(s.getPath, true), s"repair: delete failed for ${s.getPath}")
      }
  }

  /** Write (or in append mode, extend) the run's Vertica DDL script. */
  private[ros] def writeDdlFile(out: String, ddl: String, append: Boolean): Unit = {
    val ddlPath = new Path(s"$out/vertica_load_tables.sql")
    val ddlFs = fsOf(ddlPath)
    val priorDdl =
      if (append && ddlFs.exists(ddlPath)) {
        val in = ddlFs.open(ddlPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } else ""
    val os = ddlFs.create(ddlPath, true)
    try os.write((priorDdl + ddl)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Table-name manifest `<out>/_tables.json`: (name, md5) → table
    * name, maintained by every run so increments keep naming stable.
    * Keys are ROS identifiers + hex digests — no JSON escaping needed.
    */
  private def manifestFsPath(out: String) = new Path(s"$out/_tables.json")

  private[ros] def readManifest(out: String): Map[(String, String), String] = {
    val p = manifestFsPath(out)
    val fs = fsOf(p)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val pair = """"([^"]*)\|([^"]*)"\s*:\s*"([^"]*)"""".r
      pair.findAllMatchIn(s).map(m => (m.group(1), m.group(2)) -> m.group(3)).toMap
    }
  }
  private[ros] def writeManifest(out: String, m: Map[(String, String), String]): Unit = {
    val p = manifestFsPath(out)
    val body = m.toSeq.sortBy(t => (t._1._1, t._1._2))
      .map { case ((dt, md5), n) => s""""$dt|$md5":"$n"""" }
      .mkString("{", ",", "}")
    val os = fsOf(p).create(p, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Incremental commit record `<out>/_commit.json`:
    * `{"committed": M, "inflight": [files...]}`. `committed` is the
    * max seqno of the last COMMITTED increment; `inflight` is the file
    * set of an increment currently writing (recorded BEFORE its first
    * data write, cleared -- with the new max -- only AFTER its dimension
    * commit landed). [[repairCrashedIncrement]] reads it to make the
    * steady-state append metadata-only: without it, knowing the
    * committed max required a seqno scan of Messages on EVERY append
    * (driver cost growing with total corpus size -- VERDICT r11 #2).
    * Same regex-parsed flat format as the `_tables.json` manifest.
    */
  private def commitRecordFsPath(out: String) = new Path(s"$out/_commit.json")
  private[ros] def readCommitRecord(out: String): Option[(Long, Seq[String])] =
    try {
      val p = commitRecordFsPath(out)
      val fs = fsOf(p)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val com = """"committed"\s*:\s*(-?\d+)""".r.findFirstMatchIn(s)
          .map(_.group(1).toLong)
        // the array body must be cut at the UNQUOTED ']' -- a ']' is
        // legal inside a file path, and `[^\]]*` would truncate there,
        // parsing a non-empty inflight set as empty (a crashed
        // increment would then be mis-repaired as steady state)
        val flight = extractInflightBody(s)
          .map(body => """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body)
            .map(f => unescapeJson(f.group(1))).toSeq)
        // a half-written/corrupt record must NOT be trusted: None sends
        // the caller down the exact legacy-scan path
        for (c <- com; fl <- flight) yield (c, fl)
      }
    } catch { case _: Throwable => None }
  private[ros] def writeCommitRecord(out: String, committed: Long,
      inflight: Seq[String]): Unit = {
    val p = commitRecordFsPath(out)
    val body = s"""{"committed":$committed,"inflight":[""" +
      inflight.map(f => "\"" + escapeJson(f) + "\"").mkString(",") + "]}"
    val os = fsOf(p).create(p, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }
  /** Substring between `"inflight":[` and its matching UNQUOTED `]`,
    * tracking in-string/escape state so bracket characters inside
    * quoted file paths don't terminate the scan. None when the key is
    * absent or the array is unterminated (half-written record).
    */
  private[ros] def extractInflightBody(s: String): Option[String] = {
    """"inflight"\s*:\s*\[""".r.findFirstMatchIn(s).flatMap { m =>
      var i = m.end
      var inStr = false
      var escaped = false
      var end = -1
      while (i < s.length && end < 0) {
        val c = s.charAt(i)
        if (inStr) {
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '"') inStr = false
        } else if (c == '"') inStr = true
        else if (c == ']') end = i
        i += 1
      }
      if (end < 0) None else Some(s.substring(m.end, end))
    }
  }
  // full JSON string escaping incl. control characters (shared with the
  // streaming offset logs) -- the minimal quote/backslash pair would
  // emit invalid JSON for a path containing a raw newline
  private def escapeJson(s: String): String =
    graft.ros.bag.RosbagDirOffset.esc(s)
  private def unescapeJson(s: String): String =
    graft.ros.bag.RosbagDirOffset.unesc(s)

  /** Per-part-file (path, min seqno, max seqno) of a table directory,
    * read DRIVER-SIDE from the parquet footers on the bounded
    * [[graft.ros.DriverPool]] -- O(#files) metadata reads, zero row
    * scans, no Spark jobs. Parquet footers store exact min/max column
    * statistics per row group; seqno is a never-null INT64, so the
    * stats are authoritative. Returns None when the table has no
    * seqno column (dimension-shaped table -- nothing to purge) and
    * Left when any footer lacks usable statistics (caller falls back
    * to an exact Spark scan for that table). Zero-row-group files
    * (the empty schema-preserving part written when a purge empties a
    * table) contribute no range.
    */
  private[ros] def footerSeqnoRanges(dir: String)
      : Option[Either[Unit, Seq[(String, Long, Long)]]] = {
    import scala.jdk.CollectionConverters._
    import scala.language.existentials  // parquet's Statistics[_ <: Comparable[_]]
    val p = new Path(dir)
    val fs = fsOf(p)
    val parts = fs.listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (parts.isEmpty) return Some(Right(Seq.empty))
    val hconf = conf()
    // per file: None = no seqno field; Some(Left) = stats missing;
    // Some(Right(None)) = zero rows; Some(Right(Some(range)))
    val perFile = graft.ros.DriverPool.parMap(parts) { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
      try {
        val md = rd.getFooter
        if (!md.getFileMetaData.getSchema.containsField("seqno")) None
        else {
          val ranges = md.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "seqno")
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) None
                else Some((s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                  s.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
              }
          }
          if (ranges.exists(_.isEmpty))
            Some(Left(())): Option[Either[Unit, Option[(String, Long, Long)]]]
          else if (ranges.isEmpty) Some(Right(None))
          else Some(Right(Some((st.getPath.toString,
            ranges.map(_.get._1).min, ranges.map(_.get._2).max))))
        }
      } finally rd.close()
    }
    if (perFile.forall(_.isEmpty)) None          // no seqno column anywhere
    else if (perFile.exists(_.exists(_.isLeft))) Some(Left(()))
    else Some(Right(perFile.flatten.collect { case Right(Some(r)) => r }))
  }

  /** Crash repair for the incremental ETLs (all three containers),
    * run at the START of every incremental append: an increment that
    * died between its data writes and its dimension commit record
    * (Connections / Channels / Topics, written LAST) left rows for
    * undone files in Messages / RawMessages / the per-type tables /
    * the blob side tables. Purging them BEFORE the redo makes the
    * redo exactly-once -- no consumer-side dropDuplicates contract.
    *
    * The purge key is `seqno`, which every data table carries
    * (including the (seqno, data) blob side tables the path column
    * cannot reach): repair runs before every append, so at most ONE
    * dead increment exists, and its seqnos all exceed the committed
    * maximum (the dead offset was committed+1 at its run). Granularity
    * is the part FILE: a dead increment's append jobs wrote part files
    * holding only its own rows, so files with min(seqno) > committed
    * drop outright; a mixed file (possible only if a foreign
    * compaction rewrote the table between crash and redo) falls back
    * to rewriting that table's surviving rows.
    *
    * Steady state is METADATA-ONLY (VERDICT r11 #2): the `_commit.json`
    * record supplies the committed max, and debris detection reads
    * per-file seqno min/max from parquet FOOTERS driver-side
    * ([[footerSeqnoRanges]]) -- a no-crash append launches no Spark job
    * over any historical table. The exact Spark-scan path survives for
    * dirs predating the record, for footers without statistics, and
    * for two inconsistent states the record cannot resolve (dimension
    * table wiped externally; a partially-visible dimension commit).
    * A crash AFTER the dimension write but BEFORE the record finalize
    * shows `inflight` fully inside `done`: that increment committed,
    * so its end is recovered from the Messages footer max and stamped.
    *
    * Returns the committed max -- the redo continues seqnos at max+1,
    * re-using a dead increment's range (dense, collision-free: its
    * old rows are gone).
    */
  private[ros] def repairCrashedIncrement(spark: SparkSession, outDir: String,
      pathCol: String, done: Set[String], dimension: String): Long = {
    recoverRenameAside(outDir)
    readCommitRecord(outDir) match {
      case Some((committed, _)) if done.isEmpty && committed >= 0 =>
        // inconsistent: committed rows imply a non-empty dimension
        // (every message row has a connection). The dimension was
        // wiped outside the protocol -- fall back to the exact scan,
        // which purges everything uncommitted-by-done and lets the
        // caller redo it.
        legacyRepair(spark, outDir, pathCol, done, dimension)
      case Some((committed, inflight)) =>
        val inDone = inflight.count(done)
        if (inflight.nonEmpty && inDone == inflight.size) {
          // crash between the dimension write and the record finalize:
          // the increment landed whole. Its end is the Messages footer
          // max (repair ran before it started, so no older debris).
          val m = footerSeqnoRanges(s"$outDir/Messages.parquet") match {
            case Some(Right(rs)) if rs.nonEmpty => rs.map(_._3).max
            case Some(Right(_)) => -1L
            case _ =>
              val r = spark.read.parquet(s"$outDir/Messages.parquet")
                .agg(max(col("seqno"))).head()
              if (r.isNullAt(0)) -1L else r.getLong(0)
          }
          writeCommitRecord(outDir, m, Nil)
          m
        } else if (inflight.nonEmpty && inDone > 0) {
          // partially-visible dimension commit (non-atomic multi-file
          // commit observed mid-window) -- exact scan resolves it
          legacyRepair(spark, outDir, pathCol, done, dimension)
        } else {
          // steady state (inflight empty) or a dead increment
          // (inflight fully absent from done): any row above
          // `committed` is debris. Footer-verified on every append --
          // metadata-only when clean.
          purgeAbove(spark, outDir, dimension, committed)
          writeCommitRecord(outDir, committed, Nil)
          committed
        }
      case None =>
        legacyRepair(spark, outDir, pathCol, done, dimension)
    }
  }

  /** The data-table directories of an ETL output (everything but the
    * dimension commit record).
    */
  private def dataTableDirs(fs: FileSystem, outPath: Path, dimension: String): Seq[String] =
    fs.listStatus(outPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".parquet") &&
        s.getPath.getName != s"$dimension.parquet")
      .map(_.getPath.toString).sorted

  /** Delete dead part files / rewrite a mixed table so no row with
    * seqno > maxClean survives, given the per-file (path, min, max)
    * ranges. A purge that would empty the table preserves its SCHEMA
    * (one empty part file) instead: a bare directory bricks every
    * later `spark.read.parquet` with "unable to infer schema"
    * (ADVICE r11), and in incremental mode the dimension may still
    * list done files, so a silent directory delete would send the
    * next run down the bootstrap path into an ErrorIfExists failure.
    */
  private def purgeWithRanges(spark: SparkSession, fs: FileSystem, dir: String,
      maxClean: Long, ranges: Seq[(String, Long, Long)]): Unit = {
    val dead = ranges.filter(_._2 > maxClean)
    val mixed = ranges.exists(r => r._2 <= maxClean && r._3 > maxClean)
    if (mixed) rewriteTableBelow(spark, fs, dir, maxClean)
    else if (dead.nonEmpty) {
      val emptied = dead.size == ranges.size
      val schema = if (emptied) Some(spark.read.parquet(dir).schema) else None
      dead.foreach { r =>
        // a silent delete no-op would leave dead seqnos to collide with
        // the redo's range -- fail loudly like rewriteTableBelow's renames
        require(fs.delete(new Path(r._1), false), s"repair: delete failed for ${r._1}")
      }
      schema.foreach { sc =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(Seq.empty[Row], 1), sc)
          .write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(dir)
      }
    }
  }

  /** Rewrite a table keeping only rows with seqno <= maxClean -- the
    * mixed-file fallback. Promotion is rename-ASIDE, never
    * delete-then-rename: a crash between a delete and the promoting
    * rename would lose the whole table (ADVICE r11); with the aside
    * dance every crash window leaves either the original or the
    * rewrite recoverable ([[recoverRenameAside]]).
    */
  private def rewriteTableBelow(spark: SparkSession, fs: FileSystem, dir: String,
      maxClean: Long): Unit = {
    val dp = new Path(dir)
    val tmp = new Path(dir + "__repair")
    val aside = new Path(dir + "__old")
    spark.read.parquet(dir).filter(col("seqno") <= maxClean)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "snappy").parquet(tmp.toString)
    fs.delete(aside, true)
    require(fs.rename(dp, aside), s"repair: rename aside failed for $dir")
    require(fs.rename(tmp, dp), s"repair: promote failed for $dir")
    fs.delete(aside, true)
    ()
  }

  /** Recover from a crash inside [[rewriteTableBelow]]'s swap: a
    * `X.parquet__old` with no `X.parquet` means the promote rename
    * never ran -- restore the original (the rewrite is a pure filter of
    * it, so redoing the repair is idempotent). Leftover `__repair` /
    * `__old` dirs next to a live table are stale scratch and drop.
    */
  private def recoverRenameAside(outDir: String): Unit = {
    val outPath = new Path(outDir)
    val fs = fsOf(outPath)
    if (!fs.exists(outPath)) return
    fs.listStatus(outPath).toSeq.filter(_.getPath.getName.endsWith("__old"))
      .foreach { s =>
        val base = new Path(s.getPath.toString.stripSuffix("__old"))
        if (!fs.exists(base)) { fs.rename(s.getPath, base); () }
        else { fs.delete(s.getPath, true); () }
      }
    fs.listStatus(outPath).toSeq.filter(_.getPath.getName.endsWith("__repair"))
      .foreach { s => fs.delete(s.getPath, true); () }
  }

  /** Metadata-only debris purge: every data table's per-file seqno
    * ranges come from parquet footers; rows above `maxClean` are
    * purged. Tables whose footers lack statistics fall back to an
    * exact per-table Spark scan.
    */
  private def purgeAbove(spark: SparkSession, outDir: String,
      dimension: String, maxClean: Long): Unit = {
    val outPath = new Path(outDir)
    val fs = fsOf(outPath)
    dataTableDirs(fs, outPath, dimension).foreach { dir =>
      footerSeqnoRanges(dir) match {
        case None => ()                        // no seqno column: skip
        case Some(Right(ranges)) =>
          purgeWithRanges(spark, fs, dir, maxClean, ranges)
        case Some(Left(_)) =>                  // stats missing: exact scan
          purgeWithRanges(spark, fs, dir, maxClean, scanSeqnoRanges(spark, dir))
      }
    }
  }

  /** Exact per-file seqno ranges via a Spark scan -- the fallback when
    * footers carry no statistics, and the legacy path's workhorse.
    */
  private def scanSeqnoRanges(spark: SparkSession, dir: String)
      : Seq[(String, Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("__part"))
      .agg(min(col("seqno")).as("__mn"), max(col("seqno")).as("__mx"))
      .collect()
      .map(r => (decodeFileName(r.getString(0)),
        r.getAs[Long]("__mn"), r.getAs[Long]("__mx")))
      .toSeq

  /** `input_file_name()` yields a URI-ENCODED string (space as `%20`,
    * `%` as `%25`...); `new Path(string)` does NOT decode percent
    * escapes, so deleting by the raw value targets a non-existent
    * literal path. Round-trip through java.net.URI to recover the
    * filesystem path the footers/listings would report.
    */
  private def decodeFileName(name: String): String =
    try new Path(new java.net.URI(name)).toString
    catch { case _: java.net.URISyntaxException => name }

  /** The pre-record exact repair: derives the committed max from the
    * dimension's done-set with full scans (the r10 behavior), then
    * stamps a commit record so the NEXT append takes the metadata-only
    * path. Also the escape hatch for the record-inconsistent states.
    */
  private def legacyRepair(spark: SparkSession, outDir: String,
      pathCol: String, done: Set[String], dimension: String): Long = {
    val outPath = new Path(outDir)
    val fs = fsOf(outPath)
    val messages = spark.read.parquet(s"$outDir/Messages.parquet")
    val msgFiles = messages.select(col(pathCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val undone = msgFiles -- done
    val maxClean: Long = {
      val clean =
        if (undone.isEmpty) messages
        else messages.filter(!col(pathCol).isin(undone.toSeq.sorted: _*))
      val r = clean.agg(max(col("seqno"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    dataTableDirs(fs, outPath, dimension).foreach { dir =>
      val t = spark.read.parquet(dir)
      if (t.columns.contains("seqno"))
        purgeWithRanges(spark, fs, dir, maxClean, scanSeqnoRanges(spark, dir))
    }
    writeCommitRecord(outDir, maxClean, Nil)
    maxClean
  }
}
