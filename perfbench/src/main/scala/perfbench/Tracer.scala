package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** File-system counters of the `file` scheme: bytes from Hadoop's
  * `FileSystem` statistics, read operations from
  * [[CountingLocalFileSystem]]. Both are JVM-wide, so the executor tasks
  * of a local-mode session count too. */
final case class Fs(readOps: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: Fs): Fs = Fs(readOps - o.readOps, bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten)
}

object Fs {
  def now(): Fs = {
    val s = FileSystem.getGlobalStorageStatistics.get("file")
    def g(k: String): Long =
      if (s == null) 0L else Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
    Fs(CountingLocalFileSystem.readOps.get, g("bytesRead"), g("bytesWritten"))
  }
}

final case class JobRec(id: Int, tags: Set[String], start: Double,
    end: Double)

final case class StageRec(id: Int, tags: Set[String], tasks: Int,
    cpuMs: Double, shuffleBytes: Long, spillBytes: Long, records: Long)

/** Records every job and completed stage with the job tags of the code
  * that launched it. Skipped stages never complete, so they never count. */
final class JobListener extends SparkListener {
  private val started = mutable.Map.empty[Int, (Set[String], Long)]
  private val stageTags = mutable.Map.empty[(Int, Int), Set[String]]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private def tagsOf(p: java.util.Properties): Set[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = (tagsOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t, s) =>
      jobs += JobRec(e.jobId, t, s.toDouble, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageTags((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
        tagsOf(e.properties)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val t = stageTags.remove((i.stageId, i.attemptNumber()))
        .getOrElse(Set.empty)
      Option(i.taskMetrics).foreach { m =>
        stages += StageRec(i.stageId, t, i.numTasks,
          m.executorCpuTime / 1e6, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.inputMetrics.recordsRead)
      }
    }

  def snapshot: (Seq[JobRec], Seq[StageRec]) =
    synchronized((jobs.toList, stages.toList))
}

/** One call the benchmark made into a layer (or one unit operation of a
  * workload, the root of its calls). Times are epoch milliseconds. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
    val req: Long) {
  val depth: Int = parent.map(_.depth + 1).getOrElse(0)
  val tag: String = s"perfbench-span-$id"
  var start = 0.0
  var end = 0.0
  var fs0: Fs = Fs(0, 0, 0)
  var fs1: Fs = Fs(0, 0, 0)
  val notes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = end - start
  def ancestry: List[Span] = this :: parent.map(_.ancestry).getOrElse(Nil)
}

/** What a span cost, from the jobs and stages charged to it and to the
  * spans nested in it. */
final case class SpanCost(span: Span, selfMs: Double, jobs: Int,
    stages: Int, tasks: Int, driverGapMs: Double, execCpuMs: Double,
    shuffleBytes: Long, spillBytes: Long, inputRecords: Long, fs: Fs) {

  /** The named measure of this call, as per-layer metrics spell it. */
  def measure(m: String): Option[Double] = m match {
    case "ms" | "ms_p50" => Some(span.ms)
    case "jobs" => Some(jobs)
    case "stages" => Some(stages)
    case "tasks" => Some(tasks)
    case "driver_gap_ms" => Some(driverGapMs)
    case "exec_cpu_ms" => Some(execCpuMs)
    case "shuffle_bytes" => Some(shuffleBytes.toDouble)
    case "spill_bytes" => Some(spillBytes.toDouble)
    case "fs_read_ops" => Some(fs.readOps.toDouble)
    case "fs_bytes_read" => Some(fs.bytesRead.toDouble)
    case "fs_bytes_written" | "bytes_rewritten" =>
      Some(fs.bytesWritten.toDouble)
    case "rows_per_result" =>
      span.notes.get("rows").map(r => inputRecords / math.max(r, 1.0))
    case "stages_per_round" =>
      span.notes.get("rounds").map(r => stages / math.max(r, 1.0))
    case other => span.notes.get(other)
  }
}

/** Spans around the calls the benchmark makes into each layer. Each open
  * span adds its own Spark job tag, so the listener can charge every job,
  * stage, task, CPU millisecond and shuffle byte to the innermost span
  * open when it was launched — including jobs launched from other threads
  * on the span's behalf (broadcast exchanges inherit the tags). Spans
  * live in memory and are written out when the run ends.
  *
  * Disabled, a tracer adds no listener and no tags, and [[tracedOnly]]
  * bodies do not run: untraced runs pay nothing for it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new JobListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var closed: Option[Span] = None
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall time spent in [[tracedOnly]] bodies, which the traced run's
    * latencies leave out. */
  var extraMs = 0.0

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def start(): Unit = if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption, req)
      spans += s
      open = s :: open
      sc.addJobTag(s.tag)
      s.fs0 = Fs.now()
      s.start = nowMs
      try body
      finally {
        s.end = nowMs
        s.fs1 = Fs.now()
        sc.removeJobTag(s.tag)
        open = open.tail
        closed = Some(s)
      }
    }

  /** Attach a count to the innermost open span (traced runs only). */
  def note(key: String, value: Double): Unit =
    if (enabled) open.headOption.foreach(_.notes(key) = value)

  /** Attach a count to the span that closed last, for counts measured
    * outside the call so they stay out of its time and IO. */
  def noteLast(key: String, value: Double): Unit =
    if (enabled) closed.foreach(_.notes(key) = value)

  /** Work only the traced run does (an extra materialization, a listing
    * for a file count); its time is kept out of the traced latencies. */
  def tracedOnly(body: => Unit): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      body
      extraMs += (System.nanoTime() - t0) / 1e6
    }

  /** Work only the traced run does that belongs to no call: like
    * [[tracedOnly]], and its Spark jobs run under [[Tracer.AsideTag]]
    * instead of the open spans' tags, so they are charged to no span and
    * counted nowhere. */
  def aside(body: => Unit): Unit = tracedOnly {
    open.foreach(s => sc.removeJobTag(s.tag))
    sc.addJobTag(Tracer.AsideTag)
    try body
    finally {
      sc.removeJobTag(Tracer.AsideTag)
      open.reverse.foreach(s => sc.addJobTag(s.tag))
    }
  }

  /** Stop listening and charge every recorded job and stage to its span.
    * Returns the per-span costs and the jobs and stages no span claims. */
  def finish(): (Seq[SpanCost], Seq[JobRec], Seq[StageRec]) = {
    require(enabled, "finish() on a disabled tracer")
    org.apache.spark.perfbench.BusDrain.drain(sc)
    sc.removeSparkListener(listener)
    val (jobs, stages) = listener.snapshot
    Tracer.charge(spans.toSeq, jobs, stages)
  }
}

object Tracer {

  /** The job tag of [[Tracer.aside]] work, which [[charge]] drops. */
  val AsideTag = "perfbench-aside"

  /** Charge each job and stage to the innermost span whose tag it
    * carries and to all of that span's ancestors (aside work is dropped); a span's self time is
    * its wall time minus what its child spans cover, and its driver gap is
    * its wall time minus what its jobs' run intervals cover. */
  def charge(spans: Seq[Span], allJobs: Seq[JobRec],
      allStages: Seq[StageRec])
      : (Seq[SpanCost], Seq[JobRec], Seq[StageRec]) = {
    val jobs = allJobs.filterNot(_.tags(AsideTag))
    val stages = allStages.filterNot(_.tags(AsideTag))
    val byTag = spans.map(s => s.tag -> s).toMap
    def owner(tags: Set[String]): Option[Span] =
      tags.toSeq.flatMap(byTag.get).maxByOption(_.depth)
    val spanJobs = mutable.Map.empty[Int, List[JobRec]].withDefaultValue(Nil)
    val spanStages =
      mutable.Map.empty[Int, List[StageRec]].withDefaultValue(Nil)
    val looseJobs = jobs.filter { j =>
      val o = owner(j.tags)
      o.foreach(_.ancestry.foreach(a => spanJobs(a.id) ::= j))
      o.isEmpty
    }
    val looseStages = stages.filter { st =>
      val o = owner(st.tags)
      o.foreach(_.ancestry.foreach(a => spanStages(a.id) ::= st))
      o.isEmpty
    }
    val children = spans.groupBy(_.parent.map(_.id))
    val costs = spans.map { s =>
      val js = spanJobs(s.id)
      val ss = spanStages(s.id)
      val kids = children.getOrElse(Some(s.id), Nil).map(c => (c.start, c.end))
      SpanCost(s,
        selfMs = s.ms - Stats.unionLength(kids, s.start, s.end),
        jobs = js.size, stages = ss.size, tasks = ss.map(_.tasks).sum,
        driverGapMs =
          s.ms - Stats.unionLength(js.map(j => (j.start, j.end)), s.start,
            s.end),
        execCpuMs = ss.map(_.cpuMs).sum,
        shuffleBytes = ss.map(_.shuffleBytes).sum,
        spillBytes = ss.map(_.spillBytes).sum,
        inputRecords = ss.map(_.records).sum,
        fs = s.fs1 - s.fs0)
    }
    (costs, looseJobs, looseStages)
  }
}
