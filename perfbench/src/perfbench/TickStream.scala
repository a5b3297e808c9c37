package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.Schemas
import graft.ops.{Clean, VersionedTable}
import graft.streaming.StreamPipeline

/** The speed path, scheduled incrementally: each round makes the next
  * files of 15-minute ticks available in the raw zone and runs the query
  * under AvailableNow, one file per trigger, from the same checkpoint into
  * the same sink, through `StreamPipeline.joinedMetrics` into
  * `StreamPipeline.startVersionedMerge` (partitioned by symbol). Batch
  * boundaries therefore depend on the input alone. An untimed first round
  * warms the stream; timed rounds follow until the run's time is up, at
  * least one of them. One op is one micro-batch. */
final class TickStream(ctx: Ctx) extends Workload {
  import ctx.spark

  private final case class Round(progress: Seq[StreamingQueryProgress],
                                 error: Option[String])

  private val stateStoreShufflePartitions = 4
  private val warmUpFiles = 1
  private val filesPerRound = 4
  private var staged = IndexedSeq.empty[File]
  private var raw: File = _
  private var sink = ""
  private var checkpoint = ""
  private var warm: Round = _
  private var rounds = Vector.empty[Round]
  private var next = 0
  private var sinkBytesBefore = 0L
  private var sinkRowsBefore = 0L

  private def stage(files: Seq[File], into: File): Unit = files.foreach(f =>
    Files.copy(f.toPath, new File(into, f.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES))

  /** Stages the slice files, keeping their mtimes, next to an empty raw
    * zone. */
  def setup(): Unit = {
    val dir = ctx.dir("tick_stream", "staged")
    stage(ctx.inputs.listFiles.filter(_.getName.startsWith("slice_")).toSeq, dir)
    staged = dir.listFiles.toIndexedSeq.sortBy(_.getName)
    raw = ctx.dir("tick_stream", "raw")
    val base = ctx.dir("tick_stream", "stream")
    sink = new File(base, "sink").getPath
    checkpoint = new File(base, "checkpoint").getPath
  }

  private def round(files: Int, id: String, noDataBatches: Boolean = true): Round = {
    require(next + files <= staged.size, "tick_stream ran out of inputs")
    stage(staged.slice(next, next + files), raw)
    next += files
    val ss = StreamPipeline.scopedSession(spark, stateStoreShufflePartitions)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches)
    val ticks = Clean.castTicks(ss.readStream.schema(Schemas.tickRaw)
      .option("header", "true").option("maxFilesPerTrigger", "1")
      .csv(raw.getPath))
    val q = ctx.spans("stream.round", id) {
      val q = StreamPipeline.startVersionedMerge(
        StreamPipeline.joinedMetrics(ticks), sink, checkpoint,
        keys = Seq("symbol", "window_start"), partCols = Seq("symbol"),
        streamId = "ticks")
      try q.awaitTermination() catch { case _: Exception => () }
      q
    }
    Round(q.recentProgress.toSeq, q.exception.map(_.toString))
  }

  /** The first round, one batch over the first file without the trailing
    * no-data batch: JIT, state stores and the sink's first version. */
  override def warmUp(): Unit = {
    warm = round(warmUpFiles, "warm-up", noDataBatches = false)
    sinkBytesBefore = Main.du(new File(sink))
    sinkRowsBefore = VersionedTable.read(spark, sink).count()
  }

  def run(seconds: Double): Seq[OpRec] = {
    val deadline = Clock.now + seconds * 1000.0
    while (rounds.isEmpty || Clock.now < deadline)
      rounds :+= round(filesPerRound, s"r${rounds.size}")
    rounds.zipWithIndex.flatMap { case (r, i) =>
      val batches = r.progress.map { p =>
        val ms = p.durationMs.get("triggerExecution").doubleValue
        val start = Clock.fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
        OpRec(s"r$i-b${p.batchId}", "batch", 0, start, start + ms, ok = true, "",
          p.numInputRows)
      }
      batches ++ r.error.map(err =>
        OpRec(s"r$i-failed", "batch", 0, Clock.now, Clock.now, ok = false, err, 0))
    }
  }

  private def watermark(p: StreamingQueryProgress): Option[Timestamp] =
    Option(p.eventTime.get("watermark")).map(w =>
      Timestamp.from(java.time.Instant.parse(w)))

  /** The sink must equal the batch `joinedMetrics` over every file the
    * rounds made available, cut to the windows the final watermark closed
    * (the 1-hour window is the later to close), and no row may be dropped
    * as late. The recomputation depends only on the files, so a seed's
    * output is the same on every run that completes the same rounds. */
  def check(ops: Seq[OpRec]): Seq[String] = {
    val all = warm +: rounds
    val progress = all.flatMap(_.progress)
    val ticks = Clean.castTicks(spark.read.schema(Schemas.tickRaw)
      .option("header", "true").csv(raw.getPath))
    def cols(df: DataFrame) = df.select("symbol", "window_start", "ma_15m",
      "volatility_15m", "n_15m", "ma_1h", "n_1h")
    val got = Canon.of(cols(VersionedTable.read(spark, sink)).collect())
    val wm = progress.flatMap(watermark).lastOption
    val dropped = progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    val expected = wm.map(w => Canon.of(cols(StreamPipeline.joinedMetrics(ticks)
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(w))).collect()))
    Seq(
      all.flatMap(_.error).headOption.map(e => s"tick_stream: a round failed: $e"),
      if (wm.isEmpty) Some("tick_stream: no watermark reported") else None,
      expected.flatMap(Canon.diff(got, _)).map(x =>
        s"tick_stream: sink differs from the batch recomputation: $x"),
      if (got.isEmpty) Some("tick_stream: the sink holds no rows") else None,
      if (dropped == 0) None
      else Some(s"tick_stream: $dropped rows dropped as late")
    ).flatten
  }

  /** The sink's growth over the timed rounds. */
  def written(ops: Seq[OpRec]): (Long, Long) =
    (Main.du(new File(sink)) - sinkBytesBefore,
      VersionedTable.read(spark, sink).count() - sinkRowsBefore)

  def tableRoots: Seq[String] = Seq(sink)

  override def traceExtra: Map[String, Any] = Map(
    "sink_versions" -> VersionedTable.history(spark, sink).size,
    "rounds" -> rounds.map(r => Map(
      "batches" -> r.progress.map { p =>
        val ops = p.stateOperators.toSeq
        Map("batch" -> p.batchId, "run_id" -> p.runId.toString,
          "query_id" -> p.id.toString,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows_total" -> ops.map(_.numRowsTotal).sum,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_stores" -> ops.map(_.numStateStoreInstances).sum,
          "rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
          "input_rows" -> p.numInputRows)
      })))
}
