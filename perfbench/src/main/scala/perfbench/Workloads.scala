package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.ros.bag.{BagFormat, RosbagIO}

/** What every workload gets from the runner. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long, val toy: Boolean, val cpus: Int, corrupt: Boolean) {
  def dir(name: String): Path = work.resolve(name)
  /** Self-test only: damage the first measured output, so the check must fail. */
  var corruptPending: Boolean = corrupt
  def takeCorruption(op: Int): Boolean = {
    val now = corruptPending && op >= 0
    if (now) corruptPending = false
    now
  }
}

/** One operation: its timed seconds and the reason its output check
  * failed (None when it passed). Checks run outside the timed section.
  */
final case class OpOut(seconds: Double, failure: Option[String])

/** A result the runner checks with DuckDB: the rows an operation
  * returned, dumped to parquet once per distinct content, the oracle SQL
  * (over the `documents`/`embeddings` tables under `tables`, when set),
  * and the ops that returned exactly these rows.
  */
final case class Dump(query: String, path: String, oracle: String, tables: String,
                      ops: mutable.ArrayBuffer[Int])

trait Workload {
  /** Writes the inputs under `dir` (replacing earlier ones). The runner
    * calls it several times and charges the median to setup.
    */
  def generate(dir: Path): Unit
  /** One-time work between generation and the warm-up operations. */
  def prepare(): Unit = ()
  /** Bytes of the input one operation reads. */
  def inputBytes: Long
  /** Untimed operations before measuring: the JIT keeps speeding the
    * first few up, and a median over still-warming operations moves
    * with how far the warming got.
    */
  def warmups: Int
  /** Operation i (negative: a warm-up). */
  def op(i: Int): OpOut
  /** Per-layer probes and counters for a traced run, and the output
    * checks of the probes as (negative check id, failure).
    */
  def layers(): (Seq[(String, Double)], Seq[(Int, Option[String])])
  val dumps: mutable.LinkedHashMap[(String, String), Dump] = mutable.LinkedHashMap()
}

object Util {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(f => Files.delete(f)) finally all.close()
  }
  def dataFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
    } finally s.close()
  }
  def treeBytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Every physical node, through adaptive-execution wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Rows as an order-sensitive content digest. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Records `rows` as the answer of `query` at operation `op`, dumping
    * them to parquet the first time this content appears.
    */
  def recordDump(ctx: Ctx, dumps: mutable.LinkedHashMap[(String, String), Dump],
                 query: String, oracle: String, tables: String, op: Int, df: DataFrame,
                 rows0: Seq[Row]): Unit = {
    val rows = if (rows0.nonEmpty && ctx.takeCorruption(op)) rows0.tail else rows0
    val d = digest(rows)
    val dump = dumps.getOrElseUpdate((query, d), {
      val path = ctx.dir(s"dumps/$query/$d").toString
      import scala.jdk.CollectionConverters._
      ctx.spark.createDataFrame(rows.asJava, df.schema).coalesce(1).write.parquet(path)
      Dump(query, path, oracle, tables, mutable.ArrayBuffer())
    })
    dump.ops += op
  }

  def fail(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)
  def firstFailure(checks: Option[String]*): Option[String] = checks.flatten.headOption
}

import Util._

/** Bag-layer probes shared by both bag workloads: the index scan, raw
  * chunk reads and decompression timed single-threaded around the
  * engine's own calls, the meta-column scan, one full typed scan per
  * datatype, and `Seqno.globalSeqno` over the staged meta columns.
  */
object BagProbes {
  /** Check id of the probes' own output check (the spine scan totals). */
  val CheckId = -100

  def apply(ctx: Ctx, fleet: Fleet): (Seq[(String, Double)], (Int, Option[String])) = {
    val spark = ctx.spark
    // fresh hard links: the engine caches indexes per path, and this
    // probe times the uncached index read
    val linkDir = ctx.dir("probe_links")
    deleteTree(linkDir)
    Files.createDirectories(linkDir)
    val links = fleet.bags.map(b => Files.createLink(linkDir.resolve(b.getFileName), b).toString)
    val (indexes, indexS) = time(RosbagIO.scanIndexes(links))
    var readS = 0.0
    var decS = 0.0
    var raw = 0L
    indexes.foreach { case (bag, index) =>
      index.chunks.foreach { c =>
        val (data, r) = time(RosbagIO.readChunkData(bag, c))
        val (body, d) = time(BagFormat.decompressChunk(c.compression, data, c.uncompressedSize))
        readS += r; decS += d; raw += body.length
      }
    }
    deleteTree(linkDir)
    val chunks = indexes.map(_._2.chunks)
    val (spine, spineS) = time(spark.read.format("rosbag").load(fleet.dir.toString)
      .agg(sum(col("size").cast("long")), expr("bit_xor(data_crc32)")).head())
    val spineCheck = fail(spine.getLong(0) == fleet.sizeBytes && spine.getLong(1) == fleet.crcXor,
      s"spine scan: size/crc ${spine.getLong(0)}/${spine.getLong(1)} != ${fleet.sizeBytes}/${fleet.crcXor}")
    val typed = BagGen.types.map { t =>
      s"bag.typed_scan_s.${t.table}" -> time(spark.read.format("rosbag")
        .option("datatype", t.datatype).load(fleet.dir.toString)
        .write.format("noop").mode("overwrite").save())._2
    }
    val stage = ctx.dir("seqno_stage").toString
    spark.read.format("rosbag").load(fleet.dir.toString)
      .select("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec")
      .write.mode("overwrite").parquet(stage)
    ctx.tracer.span("seqno") {
      graft.operators.Seqno.globalSeqno(spark.read.parquet(stage),
        Seq(col("time_sec"), col("time_nsec"), col("bag_path"), col("chunk_idx"), col("offset")))
        .write.format("noop").mode("overwrite").save()
    }
    deleteTree(ctx.dir("seqno_stage"))
    ctx.tracer.drain()
    val seqno = ctx.tracer.spansNamed("seqno").last
    (Seq(
      "bag.index_s" -> indexS,
      "bag.chunks" -> chunks.map(_.size).sum.toDouble,
      "bag.compressed_bytes" -> chunks.flatten.map(_.dataLength.toLong).sum.toDouble,
      "bag.raw_bytes" -> raw.toDouble,
      "bag.chunk_read_s" -> readS,
      "bag.decompress_s" -> decS,
      "bag.spine_scan_s" -> spineS) ++ typed ++ Seq(
      "seqno.s" -> seqno.seconds,
      "seqno.shuffle_bytes" -> ctx.tracer.work(seqno).shuffleWriteBytes.toDouble),
      CheckId -> spineCheck)
  }

  /** Median seconds of a trivial one-task job: the scheduling floor. */
  def floor(spark: SparkSession): Double =
    medianOf((1 to 15).map(_ => time(spark.sparkContext.parallelize(Seq(1), 1).count())._2))
}

/** etl-fleet-lz4: each operation converts the whole generated fleet
  * with a default `BagEtl.run` into a fresh output directory.
  */
final class EtlWorkload(ctx: Ctx) extends Workload {
  private var fleet: Fleet = _
  private val outBytes = mutable.ArrayBuffer[Long]()
  private val outFiles = mutable.ArrayBuffer[Int]()

  def generate(dir: Path): Unit = {
    deleteTree(dir)
    fleet = if (ctx.toy) BagGen.fleet(dir, ctx.seed, 1, 3, 200)
      else BagGen.fleet(dir, ctx.seed, 4, 14)
  }
  def inputBytes: Long = fleet.bytes
  def warmups: Int = 1

  def op(i: Int): OpOut = {
    val out = ctx.dir(s"etl_out/op_$i")
    val (info, s) = time(ctx.tracer.span("etl.run")(
      graft.ros.etl.BagEtl.run(ctx.spark, fleet.dir.toString, out.toString)))
    if (ctx.takeCorruption(i)) dropOneRow(out.resolve(s"${BagGen.Imu.table}.parquet"))
    val failure = check(info, out)
    outBytes += treeBytes(out)
    outFiles += dataFiles(out).size
    deleteTree(out)
    OpOut(s, failure)
  }

  private def dropOneRow(table: Path): Unit = {
    val spark = ctx.spark
    val tmp = table.resolveSibling("corrupt_tmp")
    val df = spark.read.parquet(table.toString)
    val victim = df.agg(min(col("seqno"))).head().getLong(0)
    df.filter(col("seqno") =!= victim).write.parquet(tmp.toString)
    deleteTree(table)
    Files.move(tmp, table)
  }

  private def check(info: graft.ros.etl.BagEtl.Info, out: Path): Option[String] = {
    val spark = ctx.spark
    val perTable = fleet.countByTable.toSeq.sorted.map { case (t, n) =>
      val got = spark.read.parquet(out.resolve(s"$t.parquet").toString).count()
      fail(got == n, s"$t has $got rows, generated $n")
    }
    val m = spark.read.parquet(out.resolve("Messages.parquet").toString)
      .agg(count(lit(1)), min(col("seqno")), max(col("seqno")), countDistinct(col("seqno"))).head()
    val n = fleet.count
    firstFailure(Seq(
      fail(info.count == n, s"Info.count ${info.count} != generated $n"),
      fail(info.crcXor == fleet.crcXor, s"Info.crcXor ${info.crcXor} != generated ${fleet.crcXor}"),
      fail(info.sizeBytes == fleet.sizeBytes, s"Info.sizeBytes ${info.sizeBytes} != ${fleet.sizeBytes}"),
      fail(m.getLong(0) == n && m.getLong(1) == 0L && m.getLong(2) == n - 1 && m.getLong(3) == n,
        s"Messages.seqno not dense 0..${n - 1}: count/min/max/distinct = $m")) ++ perTable: _*)
  }

  def layers(): (Seq[(String, Double)], Seq[(Int, Option[String])]) = {
    val tr = ctx.tracer
    tr.drain()
    val runs = tr.spansNamed("etl.run")
    val works = runs.map(tr.work)
    def med(f: Work => Double) = medianOf(works.map(f))
    val tables = runs.map(tr.secondsByDescription)
    val tableS = BagGen.types.map { t =>
      s"etl.table_s.${t.table}" -> medianOf(tables.flatMap(_.get(s"per-type ${t.table}")))
    }
    val (probes, probeCheck) = BagProbes(ctx, fleet)
    (Seq(
      "etl.bag_scans" -> med(_.bagScans),
      "etl.jobs" -> med(_.jobs),
      "etl.stages" -> med(_.stages),
      "etl.tasks" -> med(_.tasks.toDouble),
      "etl.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "etl.spill_bytes" -> med(_.spillBytes.toDouble),
      "etl.output_bytes" -> medianOf(outBytes.toSeq.map(_.toDouble)),
      "etl.output_files" -> medianOf(outFiles.toSeq.map(_.toDouble)),
      "etl.out_bytes_per_in_byte" -> medianOf(outBytes.toSeq.map(_.toDouble)) / fleet.bytes,
      "etl.busy_ratio" -> medianOf(runs.zip(works).map { case (s, w) =>
        w.runTimeMs / 1e3 / (s.seconds * ctx.cpus) })) ++ tableS ++ probes,
      Seq(probeCheck))
  }
}

/** query-converted: setup converts the generated fleet once; each
  * operation is one round of a fixed mix of six queries: the
  * reference's rosbag-info rollup, a time-window aggregate on Messages,
  * a per-second IMU aggregate, an image-to-IMU as-of join, a direct-bag
  * count/min/max answered from bag metadata, and a typed time slice of
  * the bags whose chunks should be pruned. Each answer is checked
  * against the generator, and the as-of join against DuckDB.
  */
final class QueryWorkload(ctx: Ctx) extends Workload {
  private var fleet: Fleet = _
  private val conv = ctx.dir("converted").toString
  val kinds = Seq("info", "window", "imu_per_second", "asof", "bag_metadata_agg", "bag_slice")
  private val start = BagGen.BaseSec
  // Messages time window and IMU slice, in whole seconds
  private val window = if (ctx.toy) (start + 1, start + 2) else (start + 8, start + 18)
  private val slice = if (ctx.toy) (start + 1, start + 2) else (start + 12, start + 16)
  private val rowsReturned = mutable.ArrayBuffer[Long]()
  private var lastPlans = Map.empty[String, SparkPlan]

  def generate(dir: Path): Unit = {
    deleteTree(dir)
    fleet = if (ctx.toy) BagGen.fleet(dir, ctx.seed, 1, 3, 200)
      else BagGen.fleet(dir, ctx.seed, 2, 16)
  }
  override def prepare(): Unit = {
    deleteTree(ctx.dir("converted"))
    graft.ros.etl.BagEtl.run(ctx.spark, fleet.dir.toString, conv)
  }
  def inputBytes: Long = fleet.bytes + treeBytes(ctx.dir("converted"))
  def warmups: Int = 2

  private def table(t: MsgType) = ctx.spark.read.parquet(s"$conv/${t.table}.parquet")
  private def stampNs = (col("header_stamp_sec").cast("long") * 1000000000L +
    col("header_stamp_nsec")).as("ts")

  private def query(kind: String): DataFrame = {
    val spark = ctx.spark
    kind match {
      case "info" => graft.ros.etl.BagQueries.bagInfo(spark, conv)
      case "window" =>
        val conns = spark.read.parquet(s"$conv/Connections.parquet")
          .select("bag_path", "connection_id", "topic")
        spark.read.parquet(s"$conv/Messages.parquet")
          .filter(col("time_sec") >= window._1 && col("time_sec") < window._2)
          .join(broadcast(conns), Seq("bag_path", "connection_id"))
          .groupBy("topic")
          .agg(count(lit(1)).as("n"), sum(col("size").cast("long")).as("bytes"))
          .orderBy("topic")
      case "imu_per_second" =>
        table(BagGen.Imu).groupBy("header_stamp_sec")
          .agg(count(lit(1)).as("n"), sum("linear_acceleration_x").as("ax_sum"))
          .orderBy("header_stamp_sec")
      case "asof" =>
        graft.operators.AsOfJoin.native(
          table(BagGen.Imu).select(col("bag_path"), stampNs, col("header_seq").as("imu_seq"),
            col("linear_acceleration_x").as("imu_ax")),
          table(BagGen.Camera).select(col("bag_path"), stampNs, col("header_seq").as("frame")),
          "bag_path", "ts", "ts", Seq("imu_seq", "imu_ax"))
      case "bag_metadata_agg" =>
        spark.read.format("rosbag").load(fleet.dir.toString)
          .agg(count(lit(1)), min(col("time_sec")), max(col("time_sec")))
      case "bag_slice" =>
        spark.read.format("rosbag").option("datatype", BagGen.Imu.datatype)
          .load(fleet.dir.toString)
          .filter(col("time_sec") >= slice._1 && col("time_sec") < slice._2)
          .agg(count(lit(1)), sum("linear_acceleration_x"))
    }
  }

  def op(i: Int): OpOut = {
    val answers = kinds.map { kind =>
      val (df, rows, s) = ctx.tracer.span(s"query.$kind") {
        val t0 = System.nanoTime()
        val df = query(kind)
        val rows = df.collect().toSeq
        (df, rows, (System.nanoTime() - t0) / 1e9)
      }
      (kind, df, rows, s)
    }
    if (ctx.tracer.recording) {
      rowsReturned += answers.map(_._3.size.toLong).sum
      lastPlans = answers.map { case (k, df, _, _) => k -> df.queryExecution.executedPlan }.toMap
    }
    OpOut(answers.map(_._4).sum,
      firstFailure(answers.map { case (k, df, rows, _) => check(i, k, df, rows) }: _*))
  }

  private def check(i: Int, kind: String, df: DataFrame, rows: Seq[Row]): Option[String] = {
    val msgs = fleet.msgs
    def ts(m: MsgStat) = m.timeSec.toDouble + m.timeNsec.toDouble / 1e9
    kind match {
      case "info" =>
        // (datatype, topic) rows plus the per-datatype and global rollups
        val expected = msgs.groupBy(m => BagGen.types(m.typeIdx)).toSeq.flatMap { case (t, g) =>
          Seq((t.datatype, t.topic) -> g, (t.datatype, null) -> g)
        } :+ ((null, null) -> msgs)
        val got = rows.map(r => (r.getAs[String]("datatype"), r.getAs[String]("topic")) -> r).toMap
        firstFailure(fail(rows.size == expected.size, s"info: ${rows.size} rows") +:
          expected.map { case (k, g) =>
            val want = (g.size.toLong, g.map(_.size.toLong).sum, g.map(ts).min, g.map(ts).max)
            val have = got.get(k).map(r => (r.getAs[Long]("n_messages"),
              r.getAs[Long]("total_bytes"), r.getAs[Double]("min_ts"), r.getAs[Double]("max_ts")))
            fail(have.contains(want), s"info $k: $have != $want")
          }: _*)
      case "window" =>
        val in = msgs.filter(m => m.timeSec >= window._1 && m.timeSec < window._2)
        val want = in.groupBy(m => BagGen.types(m.typeIdx).topic).toSeq.sortBy(_._1)
          .map { case (t, g) => (t, g.size.toLong, g.map(_.size.toLong).sum) }
        val have = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        fail(have == want, s"window: $have != $want")
      case "imu_per_second" =>
        val want = fleet.imu.groupBy(_.stampSec).toSeq.sortBy(_._1)
          .map { case (s, g) => (s, g.size.toLong, g.map(_.accelX).sum) }
        val have = rows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        fail(have == want, s"imu_per_second: ${have.take(3)}... != ${want.take(3)}...")
      case "asof" =>
        // a set: sorted before dumping; DuckDB's ASOF JOIN is the oracle
        val sorted = rows.sortBy(r => (r.getString(0), r.getLong(1)))
        recordDump(ctx, dumps, "asof", QueryWorkload.asofOracle(conv), "", i, df, sorted)
        fail(rows.size == msgs.count(_.typeIdx == BagGen.types.indexOf(BagGen.Camera)),
          s"asof: ${rows.size} rows")
      case "bag_metadata_agg" =>
        val want = (fleet.count, msgs.map(_.timeSec).min, msgs.map(_.timeSec).max)
        val have = (rows.head.getLong(0), rows.head.getInt(1), rows.head.getInt(2))
        fail(have == want, s"bag_metadata_agg: $have != $want")
      case "bag_slice" =>
        val in = fleet.imu.filter(m => m.timeSec >= slice._1 && m.timeSec < slice._2)
        val want = (in.size.toLong, in.map(_.accelX).sum)
        val have = (rows.head.getLong(0), rows.head.getDouble(1))
        fail(have == want, s"bag_slice: $have != $want")
    }
  }

  def layers(): (Seq[(String, Double)], Seq[(Int, Option[String])]) = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.spansNamed("query.")
    val perKind = kinds.map { k =>
      s"query.${k}_s" -> medianOf(spans.filter(_.name == s"query.$k").map(_.seconds))
    }
    val works = spans.map(tr.work)
    val rounds = math.max(1, rowsReturned.size)
    val sliceTasks = nodes(lastPlans("bag_slice")).collect { case b: BatchScanExec =>
      b.inputPartitions.size }.sum
    val reads = perKind ++ Seq(
      "query.rows_read_per_row_returned" ->
        works.map(_.recordsRead).sum.toDouble / math.max(1L, rowsReturned.sum),
      "query.bytes_read" -> works.map(_.bytesRead).sum.toDouble / rounds,
      "query.jobs" -> works.map(_.jobs).sum.toDouble / rounds,
      "query.bag_slice_tasks" -> sliceTasks.toDouble,
      "query.metadata_agg_fired" ->
        (if (lastPlans("bag_metadata_agg").toString.contains("metadataAgg=true")) 1.0 else 0.0))
    val (bag, bagCheck) = BagProbes(ctx, fleet)
    val (pairs, pairCheck) = PairProbe(ctx, dumps)
    (reads ++ bag ++ pairs, Seq(bagCheck, pairCheck))
  }
}

object QueryWorkload {
  /** The as-of join in DuckDB over the same converted parquet. */
  def asofOracle(conv: String): String = {
    def t(name: String) = s"read_parquet('$conv/$name.parquet/*.parquet')"
    val ts = "CAST(header_stamp_sec AS BIGINT) * 1000000000 + header_stamp_nsec"
    s"""WITH imu AS (SELECT bag_path, $ts AS ts, header_seq AS imu_seq,
       |                    linear_acceleration_x AS imu_ax FROM ${t(BagGen.Imu.table)}),
       |     img AS (SELECT bag_path, $ts AS ts, header_seq AS frame
       |             FROM ${t(BagGen.Camera.table)})
       |SELECT img.bag_path, img.ts, img.frame, imu.imu_seq, imu.imu_ax
       |FROM img ASOF LEFT JOIN imu ON img.bag_path = imu.bag_path AND img.ts >= imu.ts
       |ORDER BY img.bag_path, img.ts""".stripMargin
  }
}

/** The pair-dedup family as a traced probe: over a seeded corpus with
  * the shape of the sf0.001 documents/embeddings tables, one untimed
  * warm-up pass, then one traced pass of `LlmQueries.invalidateCaches()`
  * followed by q28 q29 q30 q46 q60 q63 q75, then `warmShared`'s
  * per-derivation build times. Every answer is dumped for the DuckDB
  * check against the query's `SparkEntry.oracleSql`.
  */
object PairProbe {
  val CheckId = -101
  val queries = Seq("q28_minhash_lsh", "q29_simhash", "q30_embed_neardup",
    "q46_dedup_clusters", "q60_semantic_dedup", "q63_winnow_fingerprints",
    "q75_semantic_incremental")

  def apply(ctx: Ctx, dumps: mutable.LinkedHashMap[(String, String), Dump])
      : (Seq[(String, Double)], (Int, Option[String])) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.dir("corpus")
    deleteTree(dir)
    if (ctx.toy) CorpusGen.write(spark, dir, ctx.seed, 200, 100)
    else CorpusGen.write(spark, dir, ctx.seed, 300, 300)
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Seq("warm", "pairs").foreach { prefix =>
      graft.queries.LlmQueries.invalidateCaches()
      queries.foreach { q =>
        val df = tr.span(s"$prefix.$q.build")(all(q)(spark, dir.toString))
        val rows = tr.span(s"$prefix.$q.action")(df.collect().toSeq)
        recordDump(ctx, dumps, q, oracle(q), dir.toString, CheckId, df, rows)
      }
    }
    tr.drain()
    val pairs = queries.flatMap { q =>
      val build = tr.spansNamed(s"pairs.$q.build").last
      val action = tr.spansNamed(s"pairs.$q.action").last
      val w = tr.work(action)
      Seq(
        s"pairs.$q.build_s" -> build.seconds,
        s"pairs.$q.build_jobs" -> tr.work(build).jobs.toDouble,
        s"pairs.$q.action_s" -> action.seconds,
        s"pairs.$q.shuffle_bytes" -> w.shuffleWriteBytes.toDouble,
        s"pairs.$q.tasks" -> w.tasks.toDouble,
        s"pairs.$q.skew" -> w.skew)
    }
    graft.queries.LlmQueries.invalidateCaches()
    val derive = graft.queries.LlmQueries.warmShared(spark, dir.toString)
      .map { case (n, s) => s"llm.derive_s.$n" -> s }
    graft.queries.LlmQueries.invalidateCaches()
    // answers are checked by the runner against DuckDB; a failed
    // derivation build reports a negative time
    (pairs ++ derive, CheckId -> derive.collectFirst {
      case (n, s) if s < 0 => s"$n failed to build" })
  }
}
