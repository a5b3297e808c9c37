package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._

/** Milliseconds since the run's origin, for every record of a run. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpoch(ms: Long): Double = (ms - originEpochMs).toDouble
}

/** One span: a timed call into a layer, `parent` 0 at the root, `op` the
  * closed-loop operation it belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Double, end: Double)

/** Spans kept in memory and written when the run ends. Disabled, `apply`
  * runs the body and records nothing. */
final class Spans(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[java.lang.Long]
  private val notes = new ConcurrentHashMap[(String, String), Double]

  def apply[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(open.get).map(_.longValue).getOrElse(0L)
      open.set(id)
      val t0 = Clock.now
      try body
      finally {
        done.add(Span(id, parent, name, op, t0, Clock.now))
        if (parent == 0L) open.remove() else open.set(parent)
      }
    }

  /** A count measured at a span boundary, keyed by op and name. */
  def note(op: String, name: String, value: Double): Unit =
    if (enabled) notes.merge((op, name), value, (a: Double, b: Double) => a + b)

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def allNotes: Seq[(String, String, Double)] =
    notes.asScala.toSeq.map { case ((op, n), v) => (op, n, v) }.sortBy(x => (x._1, x._2))
}

/** Spark jobs as the listener bus reports them, with their stages' task
  * metrics summed. `group` is the job group the calling thread set (the op
  * id), `batch` the streaming batch id, `query` the streaming query id. */
final class JobRec(val id: Int, val group: String, val batch: String,
                   val query: String, val start: Double) {
  var end: Option[Double] = None
  var succeeded = false
  var stages = 0
  var tasks = 0L
  var taskMs = 0.0
  var waitMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** Registered by the benchmark in traced runs only. Every callback runs on
  * the single listener-bus thread. */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), prop("sql.streaming.queryId"),
      Clock.fromEpoch(e.time))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.end = Some(Clock.fromEpoch(e.time))
      r.succeeded = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmit.put(info.stageId,
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageJob.get(info.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.tasks += 1
      val info = e.taskInfo
      Option(stageSubmit.get(e.stageId)).foreach { s =>
        r.waitMs += math.max(0L, info.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        r.taskMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
        r.outputRecords += m.outputMetrics.recordsWritten
      }
    }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Hadoop file-system statistics of the local scheme. */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesRead: Long,
                        bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def ops: Long = readOps + writeOps
  }

  private def local = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")

  private def sum(ds: Iterable[FileSystem.Statistics.StatisticsData]): Snap =
    ds.foldLeft(Snap(0, 0, 0, 0)) { (a, d) =>
      Snap(a.readOps + d.getReadOps + d.getLargeReadOps,
        a.writeOps + d.getWriteOps, a.bytesRead + d.getBytesRead,
        a.bytesWritten + d.getBytesWritten)
    }

  /** The calling thread's counters. */
  def thread(): Snap = sum(local.map(_.getThreadStatistics))

  /** The counters summed over every thread, pool threads included. */
  def global(): Snap = sum(local.map(_.getData))
}
