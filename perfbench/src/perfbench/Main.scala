package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One closed-loop operation: `rows` is the number of rows it wrote (a
  * writer) or returned (a reader); `err` the exception's class when it
  * failed. */
final case class OpRec(id: String, kind: String, client: Int, start: Double,
                       end: Double, ok: Boolean, err: String, rows: Long)

/** What the run loop needs from a workload. */
trait Workload {
  /** Builds the fixture from the generated inputs, once per run. */
  def setup(): Unit

  /** Runs once after setup, before the timed phase, so the timed
    * ops do not pay one-time JIT and first-plan costs. */
  def warmUp(): Unit = ()

  /** Runs the timed phase: the closed loop for `seconds`, or the fixed
    * amount of work those seconds buy. Failed ops are recorded and never
    * retried. */
  def run(seconds: Double): Seq[OpRec]

  /** Correctness problems found after the timed phase; empty when the
    * outputs are correct. */
  def check(ops: Seq[OpRec]): Seq[String]

  /** Bytes added under the table roots by the workload's writes, and the
    * rows those writes acknowledged. */
  def written(ops: Seq[OpRec]): (Long, Long)

  /** Directories of the tables the workload wrote. */
  def tableRoots: Seq[String]

  /** Workload-specific trace records (streaming progress and the like). */
  def traceExtra: Map[String, Any] = Map.empty
}

final class Ctx(val spark: SparkSession, val inputs: File, val work: File,
                val spans: Spans) {
  def dir(parts: String*): File = {
    val f = parts.foldLeft(work)(new File(_, _))
    f.mkdirs()
    f
  }
}

/** Runs one workload in one JVM and writes the run record as JSON.
  *
  * Arguments: `--workload`, `--inputs` (generated input dir), `--work`
  * (scratch dir for tables and checkpoints), `--seconds`, `--trace 0|1`,
  * `--out` (record file). */
object Main {
  def session(work: File, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      // keep the status store's retained history small, so the heap after
      // the run reflects the engine rather than how many ops ran
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
    val s = (if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Exits explicitly: Spark leaves non-daemon threads behind, which would
    * keep a failed run's JVM alive. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(opt("work"))
    val traced = opt("trace") == "1"
    val spark = session(work, traced)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new File(opt("inputs")), work, new Spans(traced))
    val wl: Workload = opt("workload") match {
      case "daily_merge" => new DailyMerge(ctx)
      case "lake_query" => new LakeQuery(ctx)
      case "tick_stream" => new TickStream(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val s0 = Clock.now
    wl.setup()
    val w0 = Clock.now
    val setupS = (w0 - s0) / 1000.0
    wl.warmUp()
    val warmS = (Clock.now - w0) / 1000.0
    val gc0 = gcMs()
    val fs0 = FsStats.global()
    val t0 = Clock.now
    val ops = wl.run(opt("seconds").toDouble)
    val t1 = Clock.now
    val gc1 = gcMs()
    val fs1 = FsStats.global() - fs0
    // full collections with pauses between them, so the context cleaner
    // can drop the broadcast and shuffle state the collected plans held
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
    val (bytes, rows) = wl.written(ops)
    val c0 = Clock.now
    val problems = try wl.check(ops) catch {
      case e: Throwable => Seq(s"check raised $e")
    }
    val checkS = (Clock.now - c0) / 1000.0
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val record = Map(
      "workload" -> opt("workload"),
      "session_s" -> sessionS,
      "setup_fixture_s" -> setupS,
      "setup_end_ms" -> w0,
      "warm_up_s" -> warmS,
      "check_s" -> checkS,
      "timed_start_ms" -> t0,
      "timed_end_ms" -> t1,
      "heap_mb" -> heapMb,
      "gc_ms" -> (gc1 - gc0).toDouble,
      "write_bytes" -> bytes,
      "write_rows" -> rows,
      "table_roots" -> wl.tableRoots,
      "problems" -> problems,
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "client" -> o.client, "start" -> o.start, "end" -> o.end,
        "ok" -> o.ok, "err" -> o.err, "rows" -> o.rows)),
      "fs_global" -> Map("ops" -> fs1.ops, "read_ops" -> fs1.readOps,
        "write_ops" -> fs1.writeOps, "bytes_read" -> fs1.bytesRead,
        "bytes_written" -> fs1.bytesWritten),
      "spans" -> ctx.spans.all.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start" -> s.start, "end" -> s.end)),
      "notes" -> ctx.spans.allNotes.map { case (op, n, v) =>
        Map("op" -> op, "name" -> n, "value" -> v) },
      "jobs" -> listener.toSeq.flatMap(_.all).map(j => Map("id" -> j.id,
        "group" -> j.group, "batch" -> j.batch, "query" -> j.query,
        "start" -> j.start, "end" -> j.end, "ok" -> j.succeeded,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "wait_ms" -> j.waitMs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
        "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes,
        "output_records" -> j.outputRecords)),
      "extra" -> wl.traceExtra)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opt("out")), record)
    spark.stop()
  }
}
