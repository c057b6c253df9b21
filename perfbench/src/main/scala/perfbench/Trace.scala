package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval of the benchmark client, around one call into a
  * layer. `parent` is -1 for a top-level span.
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spark work done inside a span and its children. `skew` is max over
  * median task run time of the stage with the most run time.
  */
final case class Work(jobs: Int, stages: Int, tasks: Long, shuffleWriteBytes: Long,
                      spillBytes: Long, recordsRead: Long, bytesRead: Long, runTimeMs: Long,
                      bagScans: Int, skew: Double)

/** Spans kept in memory plus a SparkListener that counts jobs, stages,
  * tasks and task metrics. A job belongs to the innermost span open when
  * it was submitted: the span id travels as a job local property from
  * the client thread, and jobs submitted from pool threads (which may
  * carry a stale inherited property) fall back to the span whose
  * interval covers the submission time. Outside `start`..`stop`, `span`
  * only runs its body and no listener is registered.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  private final class JobRec(val timeMs: Long, val prop: Int, val desc: String,
                             val stageIds: Seq[Int]) {
    var endMs: Long = timeMs
  }
  private final class StageRec {
    var tasks = 0L; var shuffleWrite = 0L; var spill = 0L
    var recordsRead = 0L; var bytesRead = 0L; var runTime = 0L
    val taskTimes = mutable.ArrayBuffer[Long]()
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val sqlScans = mutable.ArrayBuffer[(Long, Int)]()

  @volatile private var on = false
  def recording: Boolean = on

  def start(): Unit = if (!on) {
    sc.addSparkListener(this)
    on = true
  }

  /** Delivers every pending event, then unregisters the listener. */
  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(this)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
          System.currentTimeMillis(), System.nanoTime())
        spans += s
        s
      }
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  // ---- listener side (one bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val prop = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.time, prop, desc, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val r = stages.getOrElseUpdate(e.stageId, new StageRec)
    r.tasks += 1
    if (m != null) {
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.recordsRead += m.inputMetrics.recordsRead
      r.bytesRead += m.inputMetrics.bytesRead
      r.runTime += m.executorRunTime
      r.taskTimes += m.executorRunTime
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlScans += ((s.time, rosbagScans(s.sparkPlanInfo))) }
    case _ =>
  }

  private def rosbagScans(p: SparkPlanInfo): Int =
    (if (p.nodeName.startsWith("BatchScan") && p.simpleString.contains("rosbag")) 1 else 0) +
      p.children.map(rosbagScans).sum

  // ---- reading (client thread, after drain) ----

  /** Waits until every posted event reached the listener. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  private def snapshot: Seq[Span] = spans.synchronized(spans.toSeq)

  private def owner(timeMs: Long, prop: Int, all: Seq[Span]): Int =
    if (prop >= 0 && prop < all.size && all(prop).covers(timeMs)) prop
    else all.filter(_.covers(timeMs)).sortBy(s => (s.startMs, s.id)).lastOption
      .map(_.id).getOrElse(-1)

  private def subtree(root: Span, all: Seq[Span]): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id).toSet
  }

  private def jobsIn(s: Span, all: Seq[Span]): Seq[JobRec] = synchronized {
    val ids = subtree(s, all)
    jobs.values.filter(j => ids.contains(owner(j.timeMs, j.prop, all))).toSeq
  }

  def work(s: Span): Work = {
    val all = snapshot
    val js = jobsIn(s, all)
    synchronized {
      val ids = subtree(s, all)
      val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      val heaviest = if (st.isEmpty) None else Some(st.maxBy(_.runTime))
      val skew = heaviest.filter(_.taskTimes.nonEmpty).map { r =>
        val t = r.taskTimes.sorted
        val med = t(t.size / 2).toDouble
        if (med > 0) t.last / med else 1.0
      }.getOrElse(0.0)
      val scans = sqlScans.filter { case (t, _) => ids.contains(owner(t, -1, all)) }.map(_._2).sum
      Work(js.size, st.size, st.map(_.tasks).sum, st.map(_.shuffleWrite).sum,
        st.map(_.spill).sum, st.map(_.recordsRead).sum,
        st.map(_.bytesRead).sum, st.map(_.runTime).sum, scans, skew)
    }
  }

  /** Wall seconds from the first job start to the last job end, per job
    * description, for jobs inside `s`.
    */
  def secondsByDescription(s: Span): Map[String, Double] = {
    val js = jobsIn(s, snapshot)
    synchronized {
      js.groupBy(_.desc).map { case (d, g) =>
        d -> (g.map(_.endMs).max - g.map(_.timeMs).min) / 1e3
      }
    }
  }

  def spansNamed(prefix: String): Seq[Span] = snapshot.filter(_.name.startsWith(prefix))

  /** Every span as one JSON array: name, id, parent, start, end (epoch
    * ms) and the jobs attributed to it directly.
    */
  def spansJson(): String = {
    val all = snapshot
    val direct = synchronized {
      jobs.values.groupBy(j => owner(j.timeMs, j.prop, all)).map { case (k, v) => k -> v.size }
    }
    all.map { s =>
      s"""{"name":${Json.str(s.name)},"id":${s.id},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"jobs":${direct.getOrElse(s.id, 0)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
