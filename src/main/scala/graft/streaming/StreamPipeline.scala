package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.ops.{Clean, Ingest, TimeWindows}

/**
 * The speed path (SURVEY §2.6, §3.1): file-stream CSV source -> cast/clean
 * -> watermark -> sliding-window aggregate -> foreachBatch partitioned
 * parquet sink.
 *
 * Design note (SURVEY §7.5 / J2): the reference *declares* a stream-stream
 * join of two windowed aggregates, which Spark < 3.5 rejected (chained
 * stateful operators in append mode), so its operational path runs a
 * batch twin (Combine.joinOnWindowStart). [[joinedMetrics]] streams the
 * declared result as ONE watermarked windowed aggregate — the join's
 * rows, without the join: every stateful operator loads and commits one
 * state store per state partition on every trigger, so the operator
 * count sets a micro-batch's fixed cost.
 */
object StreamPipeline {

  /** S2: streaming scan of the tick raw zone + reference cleaning. */
  def tickStream(spark: SparkSession, rawDir: String): DataFrame =
    Clean.castTicks(Ingest.readCsvStream(spark, rawDir, Schemas.tickRaw))

  /** Session clone with stream-scoped `spark.sql.shuffle.partitions`.
    *
    * A stateful streaming query's shuffle-partition count is its STATE
    * partition count, pinned into the checkpoint at first start — and
    * every stateful operator loads + commits its state stores (one per
    * partition; a stream-stream join keeps four) every micro-batch. A
    * pipeline of `k` such stores under the batch-wide default therefore
    * pays `k × partitions` store load/commit round-trips per trigger
    * regardless of data volume; for a micro-batch of thousands of rows
    * over a handful of keys that overhead IS the batch. Size it to
    * the stream's actual key cardinality (symbols × windows-in-flight),
    * not to the batch engine's scan width: queries planned off the
    * returned session carry the scoped setting, the parent session and
    * every batch query keep theirs — same SparkContext, caches, and
    * catalog either way. At 100 TB/day you'd turn the same knob UP past
    * the batch default; the point is that it is per-query, set where the
    * stream is declared, never a global mutation. */
  def scopedSession(spark: SparkSession, shufflePartitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s
  }

  /** T4 + T1 + A1: watermarked sliding-window metrics per symbol.
    * Reference: spark_stream_processor.py:179-198. */
  def windowedMetrics(ticks: DataFrame, watermark: String = "5 minutes",
                      width: String = "15 minutes",
                      slide: String = "5 minutes"): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.metricWindow(
        ticks.withWatermark("timestamp", watermark),
        key = "symbol", ts = "timestamp", value = "price",
        volume = col("volume"), width = width, slide = Some(slide)))

  /** Streaming session windows: the native session_window aggregate under
    * a watermark — sessions close (and emit, in append mode) once the
    * watermark passes their end. Same operator as the batch
    * Sessionize.bySessionWindow, unchanged; state per open session is
    * constant-width (the aggregates), and the watermark bounds how many
    * stay open — the managed-state alternative to the
    * flatMapGroupsWithState sessionizer (SessionizeStream) when plain
    * aggregates suffice. */
  def sessionMetrics(ticks: DataFrame, key: String = "symbol",
                     ts: String = "timestamp", value: String = "price",
                     gapMinutes: Int = 30,
                     watermark: String = "5 minutes"): DataFrame =
    ticks.withWatermark(ts, watermark)
      .groupBy(col(key), session_window(col(ts), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col(value)).as("value_sum"))
      .select(col(key),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  /** Raw stream-stream join with an event-time interval bound: each left
    * event pairs with right events of the same key whose timestamp lies in
    * [left - lookback, left]. Both sides carry watermarks, so the join
    * state is bounded: a buffered right row is dropped once the left
    * watermark passes its timestamp + lookback — the state-retention
    * contract that makes stream-stream joins runnable indefinitely (an
    * unbounded-time join would accumulate state forever at 100 TB/day).
    * The time-bound must be a JOIN CONDITION (not a post-filter) for
    * Spark's state-cleanup analysis to see it. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   lookback: String = "10 minutes",
                   watermark: String = "5 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, s"__r_$key")
    // "leftOuter" additionally emits unmatched left rows null-padded —
    // but only once the watermark passes leftTs (no future right row can
    // land in [leftTs - lookback, leftTs] anymore), so outer results
    // trail the watermark rather than the batch: same state bound,
    // delayed emission.
    l.join(r,
      col(key) === col(s"__r_$key") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs),
      joinType)
      .drop(s"__r_$key")
  }

  /** S5 + T5-T8: append-mode foreachBatch sink writing parquet partitioned
    * by symbol, with batch_id lineage column.
    * Reference: spark_stream_processor.py:94-109, 258-263. */
  def start(metrics: DataFrame, outDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    metrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId.toString))
          .write.mode("append")
          .partitionBy("symbol")
          .parquet(outDir)
      }
      .start()

  /** J2, the reference's DECLARED stream-stream join of two windowed
    * aggregates (stock_market_stream_dag.py:135): per symbol, the 15m
    * metrics (5m slide) joined to the 1h metrics (10m slide) where the
    * two windows START together — the batch twin is
    * Combine.joinOnWindowStart (q_join_inner).
    *
    * Run as ONE watermarked aggregate over the 1h grid rather than two
    * aggregates plus a stream-stream join: every 1h window start is a
    * multiple of 10 minutes, hence also a 15m window start, and that
    * 15m window is exactly the 1h window's first 15 minutes. So the 1h
    * metrics take the whole window, the 15m metrics take the rows with
    * `timestamp < window.start + 15 minutes`, and a window whose first
    * 15 minutes hold no tick — where the join found no 15m partner —
    * emits nothing. Same rows as the join, and the same emission point
    * (the watermark passing the 1h window end), from one stateful
    * operator: one state store per state partition per trigger instead
    * of six (two aggregates + the join's four). */
  def joinedMetrics(ticks: DataFrame, watermark: String = "5 minutes"):
      DataFrame = {
    val first15m =
      col("timestamp") < col("window.start") + expr("INTERVAL 15 MINUTES")
    val price15m = when(first15m, col("price"))
    ticks.withWatermark("timestamp", watermark)
      .withColumn("window", window(col("timestamp"), "1 hour", "10 minutes"))
      .groupBy(col("symbol"), col("window"))
      .agg(
        avg(price15m).as("ma_15m"),
        Clean.nanToNull(stddev_samp(price15m)).as("volatility_15m"),
        count(when(first15m, lit(1))).as("n_15m"),
        avg(col("price")).as("ma_1h"),
        count(lit(1)).as("n_1h"))
      .filter(col("n_15m") > 0)
      .select(col("symbol"), col("window.start").as("window_start"),
        col("ma_15m"), col("volatility_15m"), col("n_15m"),
        col("ma_1h"), col("n_1h"))
  }

  /** Stream-static enrichment: join the live stream against a broadcastable
    * dimension table (symbol metadata, user profile...). Stream-static
    * joins are stateless on the stream side — the static side is re-read
    * per micro-batch, so a refreshed dim parquet is picked up without
    * restarting the query. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Streaming exact dedup: drop duplicate (key, event-time) rows arriving
    * within the watermark horizon — at-least-once sources (Kafka redelivery,
    * re-landed raw files) become effectively-once without unbounded state:
    * state for a key is dropped once the watermark passes its event time. */
  def dedupStream(ticks: DataFrame, keys: Seq[String], ts: String,
                  watermark: String = "5 minutes"): DataFrame =
    ticks.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(keys :+ ts)

  /** Windowed approximate-distinct over a stream: HLL++ partial sketches
    * are the aggregation state, so per-(key, window) state is a
    * constant-width registers array no matter how many distinct values
    * arrive — the streaming twin of Dedup.approxDistinct. Exact streaming
    * distinct would need per-value state (unbounded within a window); the
    * sketch keeps the state store O(windows × keys), which is what survives
    * a 100 TB/day stream. Append mode: a window's cardinality emits once
    * the watermark passes its end. */
  def windowedApproxDistinct(events: DataFrame, ts: String,
                             distinctCol: String, keys: Seq[String] = Nil,
                             width: String = "15 minutes",
                             rsd: Double = 0.01,
                             watermark: String = "5 minutes"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(window(col(ts), width) +: keys.map(col): _*)
      .agg(approx_count_distinct(col(distinctCol), rsd).as("approx_distinct"),
        count(lit(1)).as("n_events"))
      .select(keys.map(col) ++ Seq(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("approx_distinct"), col("n_events")): _*)

  /** Windowed streaming heavy hitters: the Misra-Gries
    * TypedImperativeAggregate (SketchAggs.freqItems) as streaming window
    * state — per-(window) state is the fixed k-slot sketch buffer no matter
    * how many events arrive, so frequent-item tracking survives a
    * 100 TB/day stream where exact per-item counts would be unbounded
    * state. Emits the candidate set (a superset of every item above n/k —
    * the MG guarantee) when the watermark closes the window; a batch
    * re-count over the closed window (Frequency.heavyHitters) exactifies
    * if needed. */
  def windowedHeavyHitters(events: DataFrame, ts: String, itemCol: String,
                           k: Int = 8, width: String = "15 minutes",
                           watermark: String = "5 minutes"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(window(col(ts), width))
      .agg(graft.functions.SketchAggs
          .freqItems(col(itemCol).cast("string"), k).as("candidates"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("candidates"), col("n_events"))

  /** Warehouse-style sink: each micro-batch MERGE-upserts into a parquet
    * table on (key, window_start) — the reference's Snowflake MERGE loader
    * semantics (load_stream_to_snowflake.py:281-305) composed from
    * graft.ops.Merge inside foreachBatch. Re-delivered micro-batches
    * (checkpoint replay) are idempotent: same keys -> same rows. */
  def startMerge(metrics: DataFrame, tablePath: String,
                 checkpointDir: String, keys: Seq[String],
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    metrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Merge.upsertParquet(batch.sparkSession, tablePath,
          batch.withColumn("batch_id", lit(batchId.toString)), keys)
      }
      .start()

  /** Streaming MERGE into the rename-free [[graft.ops.VersionedTable]]
    * with EXACTLY-ONCE version semantics: each micro-batch upserts as one
    * atomic table version tagged (streamId, batchId) in the manifest
    * (the Delta txnAppId/txnVersion idempotence idea). Checkpoint replay
    * re-delivers a batch with the same id — `lastTxn` sees it committed
    * and the batch is SKIPPED, so the version history contains each
    * batch exactly once even across checkpoint loss (plain startMerge is
    * only row-idempotent: replays still burn versions). Stats/bloom
    * index columns pass straight through to the upsert, so a streamed
    * table is skippable like a batch-built one.
    *
    * Contract (same as Delta's txn writers): batch ids are only
    * meaningful within one checkpoint lineage. After LOSING a checkpoint,
    * either replay the identical source content (re-delivered ids skip
    * cleanly, as tested) or use a NEW streamId — a fresh checkpoint fed
    * different data re-numbers batches from 0 and colliding ids would be
    * skipped as already-committed. */
  def startVersionedMerge(metrics: DataFrame, table: String,
                          checkpointDir: String, keys: Seq[String],
                          partCols: Seq[String], streamId: String,
                          statsCols: Seq[String] = Nil,
                          fileRows: Option[Int] = None,
                          bloomCols: Seq[String] = Nil,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    // `table` may be a registered catalog NAME (or name@branch) — the
    // reference's speed path lands in a NAMED warehouse table
    // (load_stream_to_snowflake.py:90-107), so the streaming leg must
    // address it like batch SQL does: resolved ONCE at start, same
    // shadowing rules as batch, paths pass through
    val root = graft.plans.GraftCatalog.resolveTableRef(
      metrics.sparkSession, table)
    metrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val seen = graft.ops.VersionedTable.lastTxn(s, root, streamId)
        // pin the batch: the upsert evaluates it several times (distinct
        // partition values, the merge write, stats collection), and
        // re-executing the stateful incremental plan per evaluation both
        // wastes work and trips Spark's state-store commit validation.
        // The count() below runs even for SKIPPED batches ON PURPOSE: a
        // replayed batch must still execute the stateful plan so window
        // state and watermarks rebuild (and state stores commit) — only
        // the SINK write is idempotently skipped
        val pinned = batch.persist()
        try {
          pinned.count()
          if (seen.forall(_ < batchId)) {
            graft.ops.VersionedTable.upsert(s, root, pinned, keys, partCols,
              statsCols = statsCols, fileRows = fileRows,
              bloomCols = bloomCols, txn = Some((streamId, batchId)))
            ()
          }
        } finally pinned.unpersist()
      }
      .start()
  }

  /** Catalog-driven streaming INSERT: each micro-batch runs the FULL
    * statement-grade insert path against a registered table NAME — BY
    * NAME alignment, derived-partition computation, column defaults,
    * synthetic bucketing, declared stats/bloom indexes — exactly what
    * `INSERT INTO t BY NAME` does in batch, tagged (streamId, batchId)
    * for exactly-once versions like [[startVersionedMerge]]. The
    * catalog UX completion: after `CREATE TABLE metrics ...` the stream
    * needs only the name — keys and layout come from the declaration /
    * manifest, zero path literals. */
  def startNamedInsert(metrics: DataFrame, table: String,
                       checkpointDir: String, streamId: String,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val root = graft.plans.GraftCatalog.resolveTableRef(
      metrics.sparkSession, table)
    metrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val seen = graft.ops.VersionedTable.lastTxn(s, root, streamId)
        // same pin + replay discipline as startVersionedMerge: the
        // stateful plan re-executes for state rebuild even on SKIPPED
        // batches; only the sink write is idempotently skipped
        val pinned = batch.persist()
        try {
          pinned.count()
          if (seen.forall(_ < batchId)) {
            graft.plans.GraftInsertCommand.insertFrame(s, root, pinned,
              txn = Some((streamId, batchId)))
            ()
          }
        } finally pinned.unpersist()
      }
      .start()
  }

  /** Continuous CDC consumer over a [[graft.ops.VersionedTable]] — the
    * streaming leg of [[graft.ops.VersionedTable.syncChanges]], and the
    * end-to-end replacement for the reference's warehouse sync loop that
    * re-MERGEs its ENTIRE staging frame every cycle
    * (load_stream_to_snowflake.py:243-323): a Structured Streaming query
    * whose rate source is purely a metronome; each trigger polls the
    * table's committed version and, when it advanced, hands the
    * change-volume-sized feed (op ∈ insert | update | delete, TO-version
    * row values) to `apply`. The first tick delivers the whole table as
    * op='insert' (CDC initial load); idle ticks cost one directory
    * listing + one cursor read, no data I/O.
    *
    * Progress is the crash-safe VERSION CURSOR file (write-new-then-
    * promote, see syncChanges), deliberately decoupled from the streaming
    * checkpoint: losing the checkpoint loses nothing (the rate offsets
    * are meaningless), a crash between apply and cursor promote
    * re-delivers the same transition — at-least-once, so pair `apply`
    * with an idempotent keyed MERGE exactly like the batch consumer.
    * Size [[graft.ops.VersionedTable.vacuum]]'s retention window to the
    * poll cadence so consumed-from versions stay readable. A table that
    * does not exist yet is skipped, not fatal — the consumer may start
    * before the first producer commit. */
  def startChangeFeedStream(spark: SparkSession, table: String,
                            keys: Seq[String], cursorPath: String,
                            pollInterval: String = "1 second",
                            maxVersionsPerTick: Int = Int.MaxValue)
                           (apply: DataFrame => Unit): StreamingQuery = {
    // registered catalog names resolve like every batch statement
    val root = graft.plans.GraftCatalog.resolveTableRef(spark, table)
    startMetronome(spark, pollInterval) {
      // bounded per-tick: a consumer restarted after a long outage
      // catches up maxVersionsPerTick transitions per poll instead
      // of one giant diff (ticks keep firing until drained)
      graft.ops.VersionedTable.syncChanges(spark, root, keys,
        cursorPath, maxVersionsPerTick)(apply)
      ()
    }
  }

  /** The shared metronome: a rate source purely as a clock, one `tick`
    * per trigger — the scaffolding behind every continuous-refresh leg
    * (change feed, matview, derived indexes). A FileNotFoundException
    * from the tick is a producer that has not committed yet (or a
    * vacuumed-away transition the next tick recovers from): skipped,
    * not fatal. */
  private def startMetronome(spark: SparkSession, pollInterval: String)
                            (tick: => Unit): StreamingQuery =
    spark.readStream.format("rate")
      .option("rowsPerSecond", "1").option("numPartitions", "1").load()
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(pollInterval))
      .foreachBatch { (_: DataFrame, _: Long) =>
        try tick
        catch { case _: java.io.FileNotFoundException => () }
      }
      .start()

  /** Continuously-fresh materialized aggregate: a metronome-triggered
    * [[graft.ops.MatView.refresh]] loop — each tick advances the view
    * (single-table or join-backed) to its sources' current versions at
    * change-volume cost (idle ticks list manifests and commit nothing).
    * The view's own txn watermarks are the crash-safe cursor, so
    * restarting the stream — or running it from a different driver —
    * resumes exactly where the last committed refresh left off. Pairs
    * with [[startVersionedMerge]]: stream → versioned table → serving
    * aggregate, every leg incremental. */
  def startMatViewRefresh(spark: SparkSession, view: String,
                          pollInterval: String = "1 second")
      : StreamingQuery = {
    // a materialized view registered by name (CREATE MATERIALIZED VIEW
    // mv ...) resolves through the same catalog as its batch reads —
    // and the spec must EXIST before the metronome starts: a wrong
    // root would otherwise tick forever, healthy-looking and useless
    val viewRoot = graft.plans.GraftCatalog.resolveTableRef(spark, view)
    graft.ops.MatView.readSpec(spark, viewRoot)
    startMetronome(spark, pollInterval) {
      graft.ops.MatView.refresh(spark, viewRoot)
      ()
    }
  }

  /** Continuously-fresh CDC-maintained index: the metronome-triggered
    * twin of [[startMatViewRefresh]] for [[graft.dedup.DedupIndex]] /
    * [[graft.sim.AnnIndex]] — each tick advances the index to its
    * source's current version at change-volume cost (idle ticks cost
    * two manifest listings and commit nothing; the txn watermark is the
    * crash-safe cursor). The index KIND is detected from which spec
    * file lives at the root — a wrong root fails HERE, loudly, instead
    * of ticking forever as a healthy-looking stream that never
    * refreshes anything. Composes the whole continuous pipeline by
    * NAME: stream → named table ([[startNamedInsert]]) → continuously
    * maintained near-dedup / ANN index. */
  def startIndexRefresh(spark: SparkSession, index: String,
                        pollInterval: String = "1 second")
      : StreamingQuery = {
    val indexRoot = graft.plans.GraftCatalog.resolveTableRef(spark, index)
    val refreshFn: () => Int =
      try { graft.dedup.DedupIndex.readSpec(spark, indexRoot)
        () => graft.dedup.DedupIndex.refresh(spark, indexRoot) }
      catch { case _: java.io.FileNotFoundException =>
        graft.sim.AnnIndex.readSpec(spark, indexRoot) // loud if neither
        () => graft.sim.AnnIndex.refresh(spark, indexRoot)
      }
    startMetronome(spark, pollInterval) { refreshFn(); () }
  }

  /** S9, made safe: the reference's log sink collects EVERY batch row to
    * the driver (spark_stream_processor.py:89) — at scale that is a driver
    * OOM. This is the bounded twin: at most `maxRows` rows per micro-batch
    * reach the handler (limit() runs on the executors, so the driver never
    * receives more), everything else is counted, not shipped. Good for
    * live previews/debug taps; the data path stays on the cluster. */
  def startPreview(metrics: DataFrame, checkpointDir: String, maxRows: Int,
                   trigger: Trigger = Trigger.AvailableNow())(
      handler: (Long, Seq[org.apache.spark.sql.Row]) => Unit): StreamingQuery =
    metrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        handler(batchId, batch.limit(maxRows).collect().toSeq)
      }
      .start()

  /** Streaming windowed value histogram on the Stats.histogram clamped
    * fixed grid: state per (window, bin) is ONE counter — |windows in
    * flight| × nbins no matter the event rate — and rows emit in append
    * mode when the watermark closes the window. The histogram is the
    * streaming half of drift monitoring; [[startDriftMonitor]] prices
    * each closed window against a reference. */
  def windowedHistogram(events: DataFrame, ts: String, value: String,
                        lo: Double, hi: Double, nbins: Int,
                        width: String = "15 minutes",
                        watermark: String = "5 minutes"): DataFrame = {
    val v = col(value)
    events.filter(v.isNotNull)
      .withWatermark(ts, watermark)
      .withColumn("bin", graft.ops.Stats.binColumn(v, lo, hi, nbins))
      .groupBy(window(col(ts), width), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("bin"), col("n"))
  }

  /** Streaming drift monitor: each micro-batch of CLOSED windows (append
    * mode under the watermark) is PSI-priced against a static reference
    * histogram (`referenceCounts`: (bin, n) rows, e.g. from
    * Stats.histogram over last month's corpus) and appended to parquet as
    * (window_start, window_end, psi, n_a, n_b, batch_id). The stream
    * holds only histogram counters; the smoothed-PSI join runs on
    * |windows per batch| × nbins rows inside foreachBatch — monitoring
    * that cannot become the leak (same posture as StreamMonitor). */
  def startDriftMonitor(events: DataFrame, ts: String, value: String,
                        referenceCounts: DataFrame, lo: Double, hi: Double,
                        nbins: Int, outPath: String, checkpointDir: String,
                        width: String = "15 minutes",
                        watermark: String = "5 minutes",
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    windowedHistogram(events, ts, value, lo, hi, nbins, width, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Stats.psiFromBinned(batch, referenceCounts,
              Seq("window_start", "window_end"), nbins)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
      }
      .start()

  /** End-to-end: raw CSV dir -> windowed metrics -> partitioned parquet.
    * With Trigger.AvailableNow this drains the directory and stops —
    * deterministic for tests; swap the trigger for ProcessingTime in
    * production. */
  def run(spark: SparkSession, rawDir: String, outDir: String,
          checkpointDir: String): StreamingQuery =
    start(windowedMetrics(tickStream(spark, rawDir)), outDir, checkpointDir)
}
