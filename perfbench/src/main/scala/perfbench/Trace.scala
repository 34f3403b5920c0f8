package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path,
  RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so bench
  * spans line up with the epoch-millisecond stamps Spark's listener
  * events carry.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** One traced interval (epoch µs). `op` is the top-level operation the
  * span belongs to; `parent` is 0 for a top-level operation.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long)

/** File-system work done between two points: Hadoop's `file` scheme
  * statistics (bytes) plus the call counts [[CountingFs]] records when
  * the traced run installs it.
  */
final case class FsDelta(bytesRead: Long, bytesWritten: Long,
                         writeOps: Long, listOps: Long)

object FsStats {
  def snapshot(): FsDelta = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsDelta(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingFs.writes.sum(), CountingFs.lists.sum())
  }
  def since(a: FsDelta): FsDelta = {
    val b = snapshot()
    FsDelta(b.bytesRead - a.bytesRead, b.bytesWritten - a.bytesWritten,
      b.writeOps - a.writeOps, b.listOps - a.listOps)
  }
}

/** The engine's local file system with call counters: creates, renames,
  * deletes and mkdirs count as write operations, directory listings as
  * list operations (those of streaming query threads also separately). Installed only by traced runs
  * (`spark.hadoop.fs.file.impl`), so untraced runs measure the plain
  * file system.
  */
class CountingFs extends graft.sources.NioLocalFileSystem {
  import CountingFs._
  private def listed(): Unit = {
    lists.increment()
    if (Thread.currentThread.getName.startsWith("stream execution thread"))
      streamLists.increment()
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listed(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    listed(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val lists = new LongAdder
  /** Listings made by streaming query threads (trigger work). */
  val streamLists = new LongAdder
  val writes = new LongAdder
}

/** One finished Spark job, attributed to the innermost bench span open
  * on the thread that submitted it (a local property) or to a streaming
  * batch.
  */
final case class JobRec(jobId: Int, startUs: Long, endUs: Long,
                        span: Long, batch: Long)

/** Task-level totals for one attribution key. */
final class TaskTotals {
  val tasks = new LongAdder
  val runMs = new LongAdder
  val gcMs = new LongAdder
  val spillBytes = new LongAdder
  val shuffleWriteBytes = new LongAdder
}

/** Public Spark listener: job intervals and per-job task metrics. */
final class JobListener extends SparkListener {
  private val open = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val totals = new ConcurrentHashMap[Int, TaskTotals]()

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k)))
      .flatMap(_.toLongOption).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.put(e.jobId, (e.time * 1000L, prop(e.properties, Tracer.OpKey),
      prop(e.properties, "streaming.sql.batchId")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (s, span, b) =>
      jobs.add(JobRec(e.jobId, s, e.time * 1000L, span, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val t = totals.computeIfAbsent(
        Option(stageJob.get(e.stageId)).getOrElse(-1), _ => new TaskTotals)
      t.tasks.increment()
      t.runMs.add(m.executorRunTime)
      t.gcMs.add(m.jvmGCTime)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      t.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
}

/** One planned query: its analysis+optimization+planning time (from
  * `QueryExecution.tracker`) and the files its scans read.
  */
final case class PlanRec(startUs: Long, planMs: Double, numFiles: Long)

/** Public query-execution listener: planning time and scanned files. */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      val ms = phases.values.map(_.durationMs).sum.toDouble
      val files = collect(qe.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      plans.add(PlanRec(start * 1000L, ms, files))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution,
                         ex: Exception): Unit = record(qe)
}

/** One streaming trigger as its progress event reports it. */
final case class Trigger(query: java.util.UUID, batchId: Long,
                         startUs: Long, recvUs: Long,
                         rows: Long, durations: Map[String, Long]) {
  def execMs: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  def endUs: Long = startUs + durations.getOrElse("triggerExecution", 0L) *
    1000L
}

/** Public streaming listener: every progress event. */
final class ProgressListener extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val recv = Clock.nowUs
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    triggers.add(Trigger(p.id, p.batchId, start, recv, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def of(query: java.util.UUID): Seq[Trigger] =
    triggers.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)
}

/** A top-level bench operation: what it was, when, and the file-system
  * work done while it ran.
  */
final case class OpRec(id: Long, name: String, startUs: Long, endUs: Long,
                       wallMs: Double, fs: FsDelta)

/** Spans around every public engine call the bench makes. Wall times
  * and file-system deltas are always measured (the end-to-end metrics
  * need them); spans, listeners and counters exist only when `enabled`.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[OpRec]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val jobs: Option[JobListener] =
    if (enabled) Some(new JobListener) else None
  val plans: Option[PlanListener] =
    if (enabled) Some(new PlanListener) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  plans.foreach(spark.listenerManager.register)

  def nextId(): Long = ids.getAndIncrement()

  /** Time one top-level operation: a commit, a read, ... */
  def op[T](name: String)(f: => T): (T, OpRec) = {
    val id = nextId()
    val sc = spark.sparkContext
    if (enabled) sc.setLocalProperty(Tracer.OpKey, id.toString)
    stack.set((id, id) :: stack.get)
    val fs0 = FsStats.snapshot()
    val s = Clock.nowUs
    val n0 = System.nanoTime()
    try {
      val r = f
      val wall = (System.nanoTime() - n0) / 1e6
      val rec = OpRec(id, name, s, Clock.nowUs, wall, FsStats.since(fs0))
      ops.add(rec)
      if (enabled) spans.add(Span(id, 0L, id, name, rec.startUs, rec.endUs))
      (r, rec)
    } finally {
      stack.set(stack.get.tail)
      if (enabled) sc.setLocalProperty(Tracer.OpKey, null)
    }
  }

  /** A nested span inside the current operation (tracing only); jobs
    * it submits are attributed to it.
    */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (parent, op) = stack.get.headOption.getOrElse((0L, 0L))
      val id = nextId()
      stack.set((id, op) :: stack.get)
      spark.sparkContext.setLocalProperty(Tracer.OpKey, id.toString)
      val s = Clock.nowUs
      try f
      finally {
        stack.set(stack.get.tail)
        spark.sparkContext.setLocalProperty(Tracer.OpKey,
          if (parent > 0) parent.toString else null)
        spans.add(Span(id, parent, op, name, s, Clock.nowUs))
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def close(): Unit = {
    jobs.foreach(spark.sparkContext.removeSparkListener)
    plans.foreach(spark.listenerManager.unregister)
  }
}

object Tracer {
  /** Local property naming the innermost open span of a thread. */
  val OpKey = "perfbench.op"
}
