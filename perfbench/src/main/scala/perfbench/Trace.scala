package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call: `[start, end]` in epoch milliseconds (sub-ms precision),
  * `parent` = -1 for a root span. `fs` holds the file-system counter deltas
  * over the call (children included).
  */
final case class Span(
    id: Int, parent: Int, name: String, runId: String,
    start: Double, end: Double, fs: FsCounters.Snapshot) {
  def group: String = Tracer.groupOf(id)
  def seconds: Double = (end - start) / 1000.0
}

/** File-system operation counters. Creates, renames and deletes are counted
  * by [[CountingLocalFileSystem]], which traced runs install for `file:`
  * paths; bytes come from Hadoop's own per-scheme statistics.
  */
object FsCounters {
  final case class Snapshot(created: Long, renames: Long, deletes: Long, bytesWritten: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(
      created - o.created, renames - o.renames, deletes - o.deletes,
      bytesWritten - o.bytesWritten)
  }
  val created = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong

  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def snapshot(): Snapshot =
    Snapshot(created.get, renames.get, deletes.get, bytesWritten())
}

/** `LocalFileSystem` that counts logical creates, renames and deletes. A
  * per-thread depth guard counts a create that funnels through several
  * overloads once.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  private def counted[T](c: AtomicLong)(body: => T): T = {
    val d = CountingLocalFileSystem.depth.get
    if (d == 0) c.incrementAndGet()
    CountingLocalFileSystem.depth.set(d + 1)
    try body finally CountingLocalFileSystem.depth.set(d)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(FsCounters.created)(super.create(
      f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(FsCounters.created)(super.createNonRecursive(
      f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted(FsCounters.renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(FsCounters.deletes)(super.delete(f, recursive))
}

object CountingLocalFileSystem {
  private val depth: ThreadLocal[Int] = ThreadLocal.withInitial(() => 0)
}

/** Per-job and per-task records, keyed by the job group a span set. */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, group, e.time.toDouble, Double.NaN))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.getOrDefault(e.stageId, -1)
      tasks.add(Task(job, e.taskInfo.duration / 1000.0,
        m.executorCpuTime / 1e9, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
}

object JobListener {
  final case class Job(id: Int, group: String, start: Double, var end: Double)
  final case class Task(job: Int, seconds: Double, cpuSeconds: Double,
      shuffleWriteBytes: Long, spillBytes: Long)
}

/** Records a span around each public library call the benchmark makes.
  * Disabled, [[call]] just runs its body: no job group, no listener, no
  * clock reads. Enabled, each span sets its own Spark job group so the
  * listener can attribute jobs (and, through them, tasks) to the innermost
  * open span. Spans stay in memory until [[layerMetrics]] runs at the end.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  private def nowMs(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  /** Spans are recorded only while active: during the timed operations,
    * not during set-up.
    */
  var active = false

  def call[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      sc.setLocalProperty(Tracer.GroupKey, Tracer.groupOf(id))
      stack = id :: stack
      val fs0 = FsCounters.snapshot()
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        spans += Span(id, parent, name, runId, t0, t1, FsCounters.snapshot() - fs0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Per-layer metrics over every recorded span, named
    * `<span name>.<metric>`. Waits for the listener bus to deliver every
    * event first.
    */
  def layerMetrics(): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      Tracer.layerMetrics(spans.toSeq, l.jobs.values.asScala.toSeq, l.tasks.asScala.toSeq)
  }
}

object Tracer {
  /** The Spark local property holding the job group. */
  val GroupKey = "spark.jobGroup.id"
  def groupOf(spanId: Int): String = s"perfbench-$spanId"

  /** Per-call metrics of one span; jobs and tasks of descendant spans count
    * toward their ancestors, as their wall time does.
    */
  final case class CallMetrics(
      busy: Double, self: Double, jobs: Int, tasks: Int, cpu: Double,
      shuffleWrite: Long, spill: Long, skew: Double, driverGap: Double,
      firstJobCpu: Double, fs: FsCounters.Snapshot)

  def callMetrics(
      spans: Seq[Span],
      jobs: Seq[JobListener.Job],
      tasks: Seq[JobListener.Task]): Map[Int, CallMetrics] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsByGroup = jobs.groupBy(_.group)
    val tasksByJob = tasks.groupBy(_.job)
    spans.map { s =>
      val own = subtree(s).flatMap(d => jobsByGroup.getOrElse(d.group, Nil))
      val ts = own.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val durs = ts.map(_.seconds)
      val skew =
        if (durs.isEmpty) 0.0
        else { val med = Stats.median(durs); if (med > 0) durs.max / med else 1.0 }
      val jobIntervals = own.map(j => (j.start, if (j.end.isNaN) s.end else j.end))
      val childIntervals = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val firstJob = own.sortBy(_.id).headOption
      s.id -> CallMetrics(
        busy = s.seconds,
        self = Stats.uncoveredLength(s.start, s.end, childIntervals) / 1000.0,
        jobs = own.size,
        tasks = ts.size,
        cpu = ts.map(_.cpuSeconds).sum,
        shuffleWrite = ts.map(_.shuffleWriteBytes).sum,
        spill = ts.map(_.spillBytes).sum,
        skew = skew,
        driverGap = Stats.uncoveredLength(s.start, s.end, jobIntervals) / 1000.0,
        firstJobCpu = firstJob.toSeq
          .flatMap(j => tasksByJob.getOrElse(j.id, Nil)).map(_.cpuSeconds).sum,
        fs = s.fs)
    }.toMap
  }

  /** Sums each call metric over all calls of a span name; `task_skew` is the
    * median over the calls that ran tasks.
    */
  def layerMetrics(
      spans: Seq[Span],
      jobs: Seq[JobListener.Job],
      tasks: Seq[JobListener.Task]): Map[String, Double] = {
    val per = callMetrics(spans, jobs, tasks)
    spans.groupBy(_.name).toSeq.flatMap { case (name, calls) =>
      metricsOf(calls.map(c => per(c.id))).map { case (m, v) => s"$name.$m" -> v }
    }.toMap
  }

  private def metricsOf(ms: Seq[CallMetrics]): Seq[(String, Double)] = {
    val skews = ms.filter(_.tasks > 0).map(_.skew)
    Seq(
      "calls" -> ms.size.toDouble,
      "busy_s" -> ms.map(_.busy).sum,
      "self_s" -> ms.map(_.self).sum,
      "spark_jobs" -> ms.map(_.jobs).sum.toDouble,
      "spark_tasks" -> ms.map(_.tasks).sum.toDouble,
      "executor_cpu_s" -> ms.map(_.cpu).sum,
      "shuffle_write_bytes" -> ms.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ms.map(_.spill).sum.toDouble,
      "task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "driver_gap_s" -> ms.map(_.driverGap).sum,
      "fs_files_created" -> ms.map(_.fs.created).sum.toDouble,
      "fs_renames" -> ms.map(_.fs.renames).sum.toDouble,
      "fs_deletes" -> ms.map(_.fs.deletes).sum.toDouble,
      "fs_bytes_written" -> ms.map(_.fs.bytesWritten).sum.toDouble,
      "first_job_cpu_s" -> ms.map(_.firstJobCpu).sum)
  }
}
