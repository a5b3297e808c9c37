package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scale probe for the stateful joined-metrics streaming path (VERDICT r4 #5
  * follow-through): does joined_metrics throughput HOLD when the stream is
  * `copies`× longer — 8× the rows through 8× the micro-batches — or is
  * there per-batch state growth that compounds?
  *
  * The events table is replicated with +31-day shifts per copy (the
  * stream gets LONGER, windows stay distinct, watermark keeps advancing),
  * staged as chronological CSV files exactly like Bench.streamingBench,
  * and drained with the same maxFilesPerTrigger=2 / AvailableNow recipe.
  * Healthy shape: rows/s at 8× ≥ rows/s at 1× (per-batch fixed cost
  * amortizes over more batches; state per batch is bounded by
  * windows-in-flight under the watermark, independent of stream length).
  * Run with
  *   sbt 'Test/runMain graft.StreamScaleProbe [sfDir] [copies]'
  * Prints one line per scale; a human judges (timing asserts flake).
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(mult: Int): Unit = {
      val stage = Files.createTempDirectory("graft_stream_probe").toString
      val rawDir = s"$stage/raw"
      val ev = graft.ops.Ingest.events(spark, sfDir)
      val shifted = (0 until mult).map(i =>
        ev.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 31} DAYS")))
        .reduce(_.unionAll(_))
      val n = shifted.count()
      shifted.select(
          col("event_type").as("symbol"),
          col("value").cast("string").as("price"),
          lit("0.0").as("change"),
          lit(null).cast("string").as("change_percent"),
          col("user_id").cast("string").as("volume"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .as("timestamp"))
        .repartitionByRange(8 * mult, col("timestamp"))
        .sortWithinPartitions("timestamp")
        .write.option("header", "true").csv(rawDir)
      val ss = graft.streaming.StreamPipeline.scopedSession(spark, 8)
      def ticks: DataFrame = graft.ops.Clean.castTicks(
        ss.readStream.schema(graft.model.Schemas.tickRaw)
          .option("header", "true")
          .option("maxFilesPerTrigger", "2")
          .csv(rawDir))
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamPipeline.joinedMetrics(ticks)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.map(_.durationMs.getOrDefault(
        "triggerExecution", java.lang.Long.valueOf(0L)).toDouble).sorted
      def pct(p: Double) = if (batches.isEmpty) 0.0
        else batches(math.max(0, math.ceil(p * batches.length).toInt - 1))
      println(f"STREAM_PROBE mult=$mult rows=$n wall=$sec%.1fs " +
        f"rows_per_s=${n / sec}%.0f n_batches=${batches.length} " +
        f"p50_batch_ms=${pct(0.5)}%.0f p95_batch_ms=${pct(0.95)}%.0f")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(stage))
    }
    run(1) // warm (JIT + machinery) AND the 1x reference number
    run(1) // steady 1x
    run(copies)
    spark.stop()
  }
}
