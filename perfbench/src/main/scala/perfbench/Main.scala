package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Util._

/** The benchmark JVM: one workload, one seed, one run. It sets up
  * (session, seeded inputs generated three times, preparation, a few
  * untimed warm-up operations), then runs a closed loop of operations
  * from one client thread until `--seconds` of operation time have
  * passed and at least three operations ran, checking every output
  * outside the timed section. A traced run alternates untraced and
  * traced operations, then runs the layer probes. Everything is written
  * to `--out` as JSON; `run.py` adds the DuckDB checks and prints the
  * result.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE --spans FILE --cpus N [--toy] [--corrupt]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    val work = Paths.get(opts("work")).toAbsolutePath
    val ok = try { run(opts, work); true } catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    }
    System.exit(if (ok) 0 else 1)
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case Nil => Map.empty
    case flag :: rest if flag == "--toy" || flag == "--corrupt" =>
      parse(rest) + (flag.drop(2) -> "1")
    case flag :: value :: rest if flag.startsWith("--") => parse(rest) + (flag.drop(2) -> value)
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  private def run(opts: Map[String, String], work: Path): Unit = {
    val name = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "org.apache.spark.sql.graftfns.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, opts("seed").toLong, opts.contains("toy"), cpus,
      opts.contains("corrupt"))
    val w: Workload = name match {
      case "etl-fleet-lz4" => new EtlWorkload(ctx)
      case "query-converted" => new QueryWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // setup: generation is repeated and its median charged, so one slow
    // repetition does not move setup_s
    val genS = (1 to 3).map(_ => time(w.generate(ctx.dir("input")))._2)
    val (_, prepareS) = time(w.prepare())
    val warm = (1 to w.warmups).map(k => -k -> w.op(-k))
    val warmS = warm.map(_._2.seconds).sum

    // (operation, traced)
    val ops = mutable.ArrayBuffer[(OpOut, Boolean)]()
    // At least three operations, so one slow operation is never the
    // median. A traced run alternates untraced and traced operations, so
    // the difference of their means is the tracing overhead rather than
    // the JIT still warming up; it runs at least one of each.
    var spent = 0.0
    def enough = spent >= seconds && ops.size >= 3 &&
      (!traced || ops.exists(_._2) && ops.exists(!_._2))
    while (!enough) {
      val on = traced && ops.size % 2 == 1
      if (on) tracer.start()
      val o = w.op(ops.size)
      if (on) tracer.stop()
      ops += ((o, on))
      spent += o.seconds
    }

    val (layers, probeChecks) =
      if (!traced) (Seq.empty, Seq.empty)
      else {
        val plain = ops.collect { case (o, false) => o.seconds }
        val withSpans = ops.collect { case (o, true) => o }
        tracer.start()
        val (named, checks) = w.layers()
        tracer.stop()
        (named ++ Seq(
          "spark.floor_s" -> BagProbes.floor(spark),
          // mean traced minus mean untraced operation time
          "trace.overhead_s" -> (withSpans.map(_.seconds).sum / withSpans.size -
            plain.sum / plain.size)), checks)
      }
    if (traced) Files.writeString(Paths.get(opts("spans")), tracer.spansJson())

    val json = Json.obj(
      "workload" -> Json.str(name),
      "env" -> Json.obj(
        "cpus" -> cpus.toString,
        "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "jvm" -> Json.str(System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version)),
      "setup" -> Json.obj(
        "session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(genS.map(Json.num)),
        "prepare_s" -> Json.num(prepareS),
        "warmup_s" -> Json.num(warmS)),
      // checked operations outside the measured loop: the warm-ups and
      // the probes of a traced run
      "checks" -> Json.arr((warm.map { case (id, o) => id -> o.failure } ++ probeChecks)
        .map { case (id, f) =>
          Json.obj("id" -> id.toString, "failure" -> f.map(Json.str).getOrElse("null"))
        }),
      "input_bytes" -> w.inputBytes.toString,
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "ops" -> Json.arr(ops.map { case (o, t) =>
        Json.obj("s" -> Json.num(o.seconds), "traced" -> t.toString,
          "failure" -> o.failure.map(Json.str).getOrElse("null"))
      }),
      "dumps" -> Json.arr(w.dumps.values.map { d =>
        Json.obj("query" -> Json.str(d.query), "path" -> Json.str(d.path),
          "oracle" -> Json.str(d.oracle), "tables" -> Json.str(d.tables),
          "ops" -> Json.arr(d.ops.map(_.toString)))
      }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(opts("out")), json)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }
  }
}
