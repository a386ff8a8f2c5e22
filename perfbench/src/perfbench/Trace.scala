package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Per-layer attribution of Spark work, for the traced run only.
  *
  * Spans are recorded by the benchmark around its calls into the program.
  * Each span instance sets a job group on the calling thread; pool threads
  * created inside the call inherit it. A job whose group is not a running
  * span (a long-lived pool thread created earlier keeps a stale group) is
  * charged to the span running when it was submitted — the client loop runs
  * one span at a time.
  *
  * A job is charged to a layer by its call site: the first `graft.<pkg>`
  * frame of its SQL execution's call site (`SparkListenerSQLExecutionStart
  * .details`, via the job's `spark.sql.execution.id`), else of the job's own
  * call site. A job with no such frame — one the benchmark forces itself,
  * e.g. a probe's `collect` — is charged to the layer of the function its
  * span wraps. Work Spark plans lazily is charged to the module whose action
  * forced it: assembly inside a snapshot's bucket write lands in `sinks`.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private final case class Span(id: String, name: String, layer: String, start: Long, var end: Long)
  private final class Job(val id: Int, val start: Long, val group: Option[String], val description: String,
      val execId: Option[Long], val callSite: String) { var end: Long = -1L }
  private final class Counters {
    var jobs = 0L; var tasks = 0L; var busyMs = 0L; var waitMs = 0L
    var shuffleB = 0L; var inputB = 0L; var spillB = 0L; var written = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val sqlSites = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val perJob = mutable.Map.empty[Int, Counters]

  sc.addSparkListener(this)

  /** Run `f` inside a span charged to `layer`. */
  def span[A](name: String, layer: String)(f: => A): A = {
    val s = synchronized {
      val s = Span(s"$name#${spans.count(_.name == name)}", name, layer, System.currentTimeMillis(), -1L)
      spans += s; s
    }
    sc.setJobGroup(s.id, s.id)
    try f
    finally {
      sc.clearJobGroup()
      s.end = System.currentTimeMillis()
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { sqlSites(e.executionId) = e.details }
    case _                                 => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId, e.time, prop("spark.jobGroup.id"), prop("spark.job.description").getOrElse(""),
      prop("spark.sql.execution.id").flatMap(_.toLongOption), prop("callSite.long").getOrElse(""))
    jobs(e.jobId) = j
    perJob(e.jobId) = new Counters
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); c <- perJob.get(jobId)) {
      c.tasks += 1
      c.busyMs += e.taskInfo.duration
      stageSubmitted.get(e.stageId).foreach(s => c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.shuffleB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.inputB += m.inputMetrics.bytesRead
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.written += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  private def running(s: Span, t: Long): Boolean = s.start <= t && (s.end < 0 || t <= s.end)

  /** The job's group names its span unless the group is stale: a pool
    * thread created during an earlier span keeps that span's group, so a
    * group whose span was not running at submission yields to the span that
    * was.
    */
  private def spanOf(j: Job): Option[Span] =
    j.group.flatMap(g => spans.find(_.id == g)).filter(running(_, j.start))
      .orElse(spans.find(running(_, j.start)))

  private def layerOf(j: Job, s: Span): String = {
    val site = j.execId.flatMap(sqlSites.get).filter(_.nonEmpty).getOrElse(j.callSite)
    site.split("\n").iterator.map(_.trim).flatMap(frameLayer).nextOption().getOrElse(s.layer)
  }

  /** Per-layer, per-span and per-surface metrics. `commitSpan` is the span
    * whose instances are the workload's timed commits.
    */
  def metrics(commitSpan: String, commits: Int): (Map[String, Double], Long) = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byLayer = Layers.map(_ -> new Counters).toMap
    var commitJobs = 0L
    var sinkRowsInCommits = 0L
    val surfaceWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val surfaceJobs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val surfaceRange = mutable.Map.empty[(String, String), (Long, Long)]
    for (j <- jobs.values; s <- spanOf(j)) {
      val layer = layerOf(j, s)
      val c = perJob(j.id)
      val l = byLayer(layer)
      l.jobs += 1; l.tasks += c.tasks; l.busyMs += c.busyMs; l.waitMs += c.waitMs
      l.shuffleB += c.shuffleB; l.inputB += c.inputB; l.spillB += c.spillB; l.written += c.written
      if (s.name == commitSpan) {
        commitJobs += 1
        if (layer == "sinks") sinkRowsInCommits += c.written
      }
      Surfaces.find(n => j.description == s"pipeline apply: $n").foreach { n =>
        surfaceJobs(n) += 1
        val end = if (j.end >= 0) j.end else j.start
        val (a, b) = surfaceRange.getOrElse((n, s.id), (j.start, end))
        surfaceRange((n, s.id)) = (math.min(a, j.start), math.max(b, end))
      }
    }
    surfaceRange.foreach { case ((n, _), (a, b)) => surfaceWall(n) += (b - a) / 1000.0 }
    Layers.foreach { n =>
      val c = byLayer(n)
      out(s"$n.jobs") = c.jobs.toDouble
      out(s"$n.tasks") = c.tasks.toDouble
      out(s"$n.task_busy_s") = c.busyMs / 1000.0
      out(s"$n.task_wait_s") = c.waitMs / 1000.0
      out(s"$n.shuffle_mb") = c.shuffleB / MB
      out(s"$n.input_mb") = c.inputB / MB
      out(s"$n.spill_mb") = c.spillB / MB
      out(s"$n.records_written") = c.written.toDouble
    }
    SpanNames.foreach { n =>
      val inst = spans.filter(s => s.name == n && s.end >= 0)
      val wall = inst.map(s => s.end - s.start).sum / 1000.0
      val busy = inst.map { s =>
        covered(jobs.values.filter(j => spanOf(j).contains(s)).map(j => (j.start, if (j.end >= 0) j.end else s.end)).toSeq)
      }.sum / 1000.0
      out(s"span.$n.wall_s") = wall
      out(s"span.$n.driver_only_s") = math.max(0.0, wall - busy)
    }
    Surfaces.foreach { n =>
      out(s"surface.$n.wall_s") = surfaceWall(n)
      out(s"surface.$n.jobs") = surfaceJobs(n)
    }
    out("jobs_per_batch") = if (commits > 0) commitJobs.toDouble / commits else 0.0
    (out.toMap, sinkRowsInCommits)
  }

  /** Spans as JSON lines, for the end-of-run trace file. */
  def spanLines: Seq[String] = synchronized {
    spans.toSeq.map { s =>
      val js = jobs.values.filter(j => spanOf(j).contains(s)).map(j => s"""[${j.id},"${layerOf(j, s)}"]""")
      s"""{"span":"${s.id}","layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end},"jobs":[${js.mkString(",")}]}"""
    }
  }
}

object Trace {
  val Layers: Seq[String] =
    Seq("sync", "assemble", "cdc", "sinks", "sources", "streaming", "functions", "ann", "dedup")
  val SpanNames: Seq[String] = Seq("snapshot", "assemble_only", "seed", "apply", "probe_bm25", "probe_ann")
  val Surfaces: Seq[String] = Seq("docs", "bm25", "ann_lsh", "ann_pq", "dedup", "cluster")
  private val MB = 1024.0 * 1024.0
  private val Packages = Layers.filterNot(_ == "sync").toSet

  /** The layer of one stack frame, if it is a frame of a program module. */
  def frameLayer(frame: String): Option[String] =
    if (frame.startsWith("graft.GraftSync")) Some("sync")
    else if (!frame.startsWith("graft.")) None
    else {
      val seg = frame.drop(6).takeWhile(_ != '.')
      if (Packages(seg) && frame.length > 6 + seg.length) Some(seg) else None
    }

  /** Milliseconds covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
