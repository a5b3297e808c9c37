package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StreamMonitor, StreamPipeline}

class StreamingSpec extends SparkSpec {

  private def writeCsv(dir: Path, name: String, rows: Seq[String]): Unit = {
    val header = "symbol,price,change,change_percent,volume,timestamp"
    Files.writeString(dir.resolve(name), (header +: rows).mkString("\n"))
  }

  test("speed path end-to-end: CSV landing -> windowed agg -> parquet") {
    val base = Files.createTempDirectory("graft_stream")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00"))

    StreamPipeline.run(spark, raw.toString, out, ckpt).awaitTermination(60000)
    // append mode + watermark: a window is emitted only once a later batch
    // advances the watermark past its end — push it forward twice, exactly
    // how a live stream would
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T01:00:00"))
    StreamPipeline.run(spark, raw.toString, out, ckpt).awaitTermination(60000)
    writeCsv(raw, "c.csv", Seq("AAA,11.5,0.0,,50,2024-01-01T02:00:00"))
    StreamPipeline.run(spark, raw.toString, out, ckpt).awaitTermination(60000)

    val result = spark.read.parquet(out)
    assert(result.count() > 0)
    val cols = result.columns.toSet
    assert(Set("symbol", "window_start", "window_end", "ma", "volatility",
      "volume_sum", "n_events", "batch_id").subsetOf(cols))
    // AAA rows at 00:01 and 00:06 share the [00:00,00:15)/5m sliding windows
    import spark.implicits._
    val aaa = result.filter($"symbol" === "AAA")
      .filter($"window_start" === "2024-01-01 00:00:00")
      .select("n_events").as[Long].collect()
    assert(aaa.headOption.contains(2L))
  }

  test("JSONL streaming leg: Kafka-shaped messages through the speed path") {
    import graft.model.Schemas
    import graft.ops.{Clean, Ingest}
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_jsonl")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // exactly the producer's message shape, incl. the percent_change skew
    Files.writeString(raw.resolve("m1.jsonl"), Seq(
      """{"symbol":"AAPL","price":190.0,"change":0.5,"percent_change":"0.26%","volume":"100","timestamp":"2024-01-01T09:30:00"}""",
      """{"symbol":"AAPL","price":191.0,"change":1.0,"percent_change":"0.52%","volume":"200","timestamp":"2024-01-01T09:31:00"}""")
      .mkString("\n"))
    val ticks = Clean.castTicks(
      Ingest.readJsonlStream(spark, raw.toString, Schemas.tickRaw))
    StreamPipeline.start(
        StreamPipeline.windowedMetrics(ticks, width = "5 minutes",
          slide = "5 minutes"),
        out, ckpt).awaitTermination(60000)
    // flush the 09:30 window by advancing the watermark
    Files.writeString(raw.resolve("m2.jsonl"),
      """{"symbol":"AAPL","price":192.0,"change":1.0,"percent_change":null,"volume":"50","timestamp":"2024-01-01T10:30:00"}""")
    StreamPipeline.start(
        StreamPipeline.windowedMetrics(ticks, width = "5 minutes",
          slide = "5 minutes"),
        out, ckpt).awaitTermination(60000)
    Files.writeString(raw.resolve("m3.jsonl"),
      """{"symbol":"AAPL","price":193.0,"change":1.0,"percent_change":null,"volume":"50","timestamp":"2024-01-01T11:30:00"}""")
    StreamPipeline.start(
        StreamPipeline.windowedMetrics(ticks, width = "5 minutes",
          slide = "5 minutes"),
        out, ckpt).awaitTermination(60000)
    val rows = spark.read.parquet(out)
      .filter($"window_start" === "2024-01-01 09:30:00").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("ma") == 190.5)
    assert(rows(0).getAs[Long]("volume_sum") == 300L)
  }

  test("stream-static enrichment join adds dimension columns per batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_enrich")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "e1.csv", Seq(
      "AAA,10.0,0.0,,100,2024-01-01T00:01:00",
      "ZZZ,99.0,0.0,,1,2024-01-01T00:01:30"))
    val dim = Seq(("AAA", "Alpha Corp", "tech")).toDF("symbol", "name", "sector")
    StreamPipeline.enrich(
        StreamPipeline.tickStream(spark, raw.toString), dim, Seq("symbol"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start().awaitTermination(60000)
    val rows = spark.read.parquet(out)
      .select("symbol", "name", "sector").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(rows("AAA").contains("Alpha Corp"))
    assert(rows("ZZZ").isEmpty) // left join keeps unmatched stream rows
  }

  test("dedupStream drops redelivered rows within the watermark") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_dedup")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // same (symbol, timestamp) tick delivered three times + one distinct
    writeCsv(raw, "d1.csv", Seq(
      "AAA,10.0,0.0,,100,2024-01-01T00:01:00",
      "AAA,10.0,0.0,,100,2024-01-01T00:01:00",
      "AAA,10.0,0.0,,100,2024-01-01T00:01:00",
      "AAA,11.0,0.0,,100,2024-01-01T00:02:00"))
    StreamPipeline.dedupStream(
        StreamPipeline.tickStream(spark, raw.toString),
        keys = Seq("symbol"), ts = "timestamp")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start().awaitTermination(60000)
    val rows = spark.read.parquet(out).select("symbol", "price")
      .as[(String, Double)].collect().sorted
    assert(rows.toSeq == Seq(("AAA", 10.0), ("AAA", 11.0)))
  }

  test("merge sink upserts per micro-batch; replayed keys do not duplicate") {
    val base = Files.createTempDirectory("graft_stream_merge")
    val raw = Files.createDirectory(base.resolve("raw"))
    val table = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    def run(): Unit = {
      val metrics = StreamPipeline.windowedMetrics(
        StreamPipeline.tickStream(spark, raw.toString),
        width = "5 minutes", slide = "5 minutes")
      StreamPipeline.startMerge(metrics, table, ckpt,
        keys = Seq("symbol", "window_start")).awaitTermination(60000)
    }
    writeCsv(raw, "m1.csv", Seq("AAA,10.0,0.0,,100,2024-01-01T00:01:00"))
    run()
    // push watermark so the 00:00 window flushes, then far enough for 01:00
    writeCsv(raw, "m2.csv", Seq("AAA,20.0,0.0,,100,2024-01-01T01:00:00"))
    run()
    writeCsv(raw, "m3.csv", Seq("AAA,30.0,0.0,,100,2024-01-01T02:00:00"))
    run()
    import spark.implicits._
    val rows = spark.read.parquet(table)
      .select("symbol", "window_start", "ma").collect()
    // exactly one row per (symbol, window): merged, not appended twice
    assert(rows.map(r => (r.getString(0), r.getTimestamp(1))).distinct.length
      == rows.length)
    assert(rows.exists(_.getTimestamp(1).toString.startsWith("2024-01-01 00:00")))
  }

  test("versioned merge sink: exactly-once versions across checkpoint loss") {
    import graft.ops.VersionedTable
    val base = Files.createTempDirectory("graft_stream_vmerge")
    val raw = Files.createDirectory(base.resolve("raw"))
    val root = base.resolve("table").toString
    def run(ckpt: String): Unit = {
      val metrics = StreamPipeline.windowedMetrics(
        StreamPipeline.tickStream(spark, raw.toString),
        width = "5 minutes", slide = "5 minutes")
        .withColumn("day",
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("window_start")))
      StreamPipeline.startVersionedMerge(metrics, root, ckpt,
        keys = Seq("symbol", "window_start", "day"), partCols = Seq("day"),
        streamId = "vmerge-test").awaitTermination(60000)
    }
    val ckpt1 = base.resolve("ckpt1").toString
    writeCsv(raw, "m1.csv", Seq("AAA,10.0,0.0,,100,2024-01-01T00:01:00"))
    run(ckpt1)
    writeCsv(raw, "m2.csv", Seq("AAA,20.0,0.0,,100,2024-01-01T01:00:00"))
    run(ckpt1)
    val versionsAfter = VersionedTable.history(spark, root)
    assert(versionsAfter.nonEmpty)
    val rowsBefore = VersionedTable.read(spark, root).collect().toSet
    // CHECKPOINT LOSS: a fresh checkpoint re-delivers the same batches
    // with the same batch ids — lastTxn sees them committed, every one
    // is skipped: identical rows AND identical version history (plain
    // startMerge would burn new versions here)
    run(base.resolve("ckpt2").toString)
    assert(VersionedTable.history(spark, root) == versionsAfter)
    assert(VersionedTable.read(spark, root).collect().toSet == rowsBefore)
    // genuinely new data lands when the ORIGINAL checkpoint lineage
    // continues (its batch numbering keeps increasing past lastTxn; a
    // fresh checkpoint fed new data would need a new streamId — see the
    // startVersionedMerge contract)
    writeCsv(raw, "m3.csv", Seq("AAA,30.0,0.0,,100,2024-01-01T02:00:00"))
    run(ckpt1)
    assert(VersionedTable.read(spark, root).count() > rowsBefore.size)
    // manifest carries the txn tag
    assert(VersionedTable.lastTxn(spark, root, "vmerge-test").isDefined)
    assert(VersionedTable.lastTxn(spark, root, "other-stream").isEmpty)
  }

  test("streaming by table NAME: CREATE TABLE, named insert sink, named " +
      "matview refresh, named CDC — zero path literals after CREATE") {
    import graft.ops.VersionedTable
    import org.apache.spark.sql.functions.{col, to_date}
    val base = Files.createTempDirectory("graft_stream_named")
    val raw = Files.createDirectory(base.resolve("raw"))
    spark.sql(
      s"""CREATE TABLE strm_metrics USING graft
         |LOCATION '${base.resolve("table")}' PARTITIONED BY (day)
         |TBLPROPERTIES('graft.keys'='symbol,window_start,day')"""
        .stripMargin)
    def metrics() = StreamPipeline.windowedMetrics(
      StreamPipeline.tickStream(spark, raw.toString),
      width = "5 minutes", slide = "5 minutes")
      .withColumn("day", to_date(col("window_start")))
    def run(ckpt: String): Unit =
      StreamPipeline.startNamedInsert(metrics(), "strm_metrics", ckpt,
        streamId = "named-ins").awaitTermination(60000)
    val ckpt1 = base.resolve("ckpt1").toString
    writeCsv(raw, "m1.csv", Seq("AAA,10.0,0.0,,100,2024-01-01T00:01:00"))
    run(ckpt1)
    writeCsv(raw, "m2.csv", Seq("BBB,20.0,0.0,,50,2024-01-01T01:00:00"))
    run(ckpt1)
    // the stream-fed table reads by NAME, layout from the declaration
    assert(spark.sql("SELECT count(*) AS n FROM strm_metrics")
      .first.getLong(0) > 0)
    val hist = spark.sql("DESCRIBE HISTORY strm_metrics").count()
    // checkpoint loss: replayed batch ids skip — history unchanged
    run(base.resolve("ckpt2").toString)
    assert(spark.sql("DESCRIBE HISTORY strm_metrics").count() == hist)
    // an unregistered name refuses loudly at START, not mid-stream
    intercept[IllegalArgumentException](
      StreamPipeline.startNamedInsert(metrics(), "strm_never_created",
        base.resolve("ckpt3").toString, streamId = "x"))
    // named continuous matview over the stream-fed named table
    spark.sql(
      """CREATE MATERIALIZED VIEW strm_mv KEYED BY
        |(symbol, window_start, day) AS
        |SELECT symbol, sum(n_events) AS n_total FROM strm_metrics
        |GROUP BY symbol""".stripMargin)
    def served(): Map[String, Long] =
      spark.sql("SELECT symbol, n_total FROM strm_mv").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def truth(): Map[String, Long] =
      spark.sql("SELECT symbol, sum(n_events) AS n FROM strm_metrics " +
        "GROUP BY symbol").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mvq = StreamPipeline.startMatViewRefresh(spark, "strm_mv",
      pollInterval = "100 milliseconds")
    // named CDC consumer alongside
    val mirror = scala.collection.concurrent.TrieMap.empty[String, Long]
    val cdcq = StreamPipeline.startChangeFeedStream(spark, "strm_metrics",
      keys = Seq("symbol", "window_start", "day"),
      base.resolve("cursor").toString,
      pollInterval = "100 milliseconds") { feed =>
      feed.select("op", "symbol", "n_events").collect().foreach { r =>
        if (r.getString(0) != "delete")
          mirror(r.getString(1) + "@" + r.getLong(2)) = r.getLong(2)
      }
    }
    try {
      writeCsv(raw, "m3.csv",
        Seq("AAA,30.0,0.0,,100,2024-01-01T02:00:00"))
      run(ckpt1)
      val end = System.currentTimeMillis + 30000
      while ((served() != truth() || mirror.isEmpty) &&
          System.currentTimeMillis < end)
        Thread.sleep(100)
      assert(served() == truth(),
        s"named matview did not converge: ${served()} vs ${truth()}")
      assert(mirror.nonEmpty, "named CDC stream delivered nothing")
    } finally { mvq.stop(); cdcq.stop() }
    spark.sql("DROP TABLE strm_mv")
    spark.sql("DROP TABLE strm_metrics")
  }

  test("graft-cdc source: readStream of a named table's change feed — " +
      "initial load, CDF ops, version offsets, restart-exact") {
    import graft.ops.VersionedTable
    val base = Files.createTempDirectory("graft_cdc_src")
    spark.sql(
      s"""CREATE TABLE cdc_src_t (id INT, g STRING, v INT)
         |USING graft LOCATION '${base.resolve("t")}'
         |PARTITIONED BY (g)
         |TBLPROPERTIES('graft.keys'='id,g')""".stripMargin)
    spark.sql("INSERT INTO cdc_src_t VALUES (1,'a',10), (2,'b',20)")
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Int, Int)]()
    val ckpt = base.resolve("ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("table", "cdc_src_t").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("op", "_commit_version", "id", "v").collect().foreach(
            r => seen.add((r.getString(0), r.getInt(1), r.getInt(2),
              if (r.isNullAt(3)) -1 else r.getInt(3))))
          ()
        }.start()
      assert(q.awaitTermination(60000))
    }
    // schema: op + _commit_version + visible table columns
    val cols = spark.readStream.format("graft-cdc")
      .option("table", "cdc_src_t").load().columns.toSeq
    assert(cols == Seq("op", "_commit_version", "id", "g", "v"))
    drain() // initial load: whole table as inserts at v0
    assert(seen.size == 2 &&
      seen.iterator().next()._1 == "insert")
    seen.clear()
    // an update and a delete commit; the next drain delivers CDF rows
    spark.sql("UPDATE cdc_src_t SET v = 11 WHERE id = 1")
    spark.sql("DELETE FROM cdc_src_t WHERE id = 2")
    drain()
    val ops = Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
    assert(ops.exists(o => o._1 == "update_preimage" && o._3 == 1 &&
      o._4 == 10))
    assert(ops.exists(o => o._1 == "update_postimage" && o._3 == 1 &&
      o._4 == 11))
    assert(ops.exists(o => o._1 == "delete" && o._3 == 2))
    assert(ops.forall(_._2 == 2), s"commit version wrong: $ops")
    // restart-exact: same checkpoint, no new commits -> nothing replays
    drain()
    assert(seen.isEmpty, s"replayed: $seen")
    // unregistered name refuses at construction
    intercept[IllegalArgumentException](
      spark.readStream.format("graft-cdc")
        .option("table", "cdc_never").load())
    // startingVersion=0 skips the initial load (changes AFTER v0) and
    // maxVersionsPerBatch=1 rate-limits: one version transition per
    // micro-batch, so the v1 UPDATE and v2 DELETE arrive in SEPARATE
    // batches, each under its own _commit_version
    val perBatch =
      new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    val q2 = spark.readStream.format("graft-cdc")
      .option("table", "cdc_src_t")
      .option("startingVersion", "0")
      .option("maxVersionsPerBatch", "1")
      .load()
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt2").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_commit_version").collect()
          .map(_.getInt(0)).toSet
        if (vs.nonEmpty) perBatch.add(vs)
        ()
      }.start()
    assert(q2.awaitTermination(60000))
    val batches = Iterator.continually(perBatch.poll())
      .takeWhile(_ != null).toSeq
    assert(batches == Seq(Set(1), Set(2)),
      s"rate-limited catch-up wrong: $batches")
    // startingVersion=latest: nothing to deliver until a NEW commit
    val seen3 = new java.util.concurrent.atomic.AtomicLong
    def drainLatest(): Unit = {
      val q3 = spark.readStream.format("graft-cdc")
        .option("table", "cdc_src_t")
        .option("startingVersion", "latest")
        .load()
        .writeStream
        .option("checkpointLocation", base.resolve("ckpt3").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen3.addAndGet(b.count()); ()
        }.start()
      assert(q3.awaitTermination(60000))
    }
    drainLatest()
    assert(seen3.get == 0, s"startingVersion=latest replayed history")
    spark.sql("INSERT INTO cdc_src_t VALUES (9,'a',90)")
    drainLatest()
    assert(seen3.get == 1)
    spark.sql("DROP TABLE cdc_src_t")
  }

  test("graft-cdc admission control rides the engine's ReadLimit " +
      "(ReadMaxVersions) and every data batch bottoms out in columnar " +
      "parquet scans") {
    val base = Files.createTempDirectory("graft_cdc_limit")
    spark.sql(s"CREATE TABLE cdc_lim_t (id INT, v INT) USING graft " +
      s"LOCATION '${base.resolve("t")}' TBLPROPERTIES('graft.keys'='id')")
    (0 to 3).foreach(i =>
      spark.sql(s"INSERT INTO cdc_lim_t VALUES ($i, ${i * 10})")) // v0..v3
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Set[Int], String)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "cdc_lim_t")
      .option("startingVersion", "0")
      .option("maxVersionsPerBatch", "1").load()
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_commit_version").collect()
          .map(_.getInt(0)).toSet
        if (vs.nonEmpty)
          batches.add((vs, b.rdd.toDebugString))
        ()
      }.start()
    assert(q.awaitTermination(60000))
    val got = Iterator.continually(batches.poll())
      .takeWhile(_ != null).toSeq
    // one version transition per micro-batch: the engine's ReadLimit
    // (getDefaultReadLimit -> ReadMaxVersions -> latestOffset) is the
    // ONLY admission path once SupportsAdmissionControl is live — this
    // sequencing would break if the limit stopped flowing through it
    assert(got.map(_._1) == Seq(Set(1), Set(2), Set(3)),
      s"per-version batches wrong: ${got.map(_._1)}")
    // each data batch is a DSv2 scan (DataSourceRDD) over the graft-cdc
    // MicroBatchStream's staged-parquet FilePartitions, read by Spark's
    // own parquet reader factory — real distributed file scans, never
    // driver-materialized rows (inside foreachBatch the frame is a
    // LogicalRDD wrapper, so the lineage is where the property lives)
    got.foreach { case (vs, lineage) =>
      assert(lineage.contains("DataSourceRDD"),
        s"batch $vs not DSv2-scan-backed:\n$lineage")
    }
    // and the stream resolves through the DSv2 relation, not a V1 leg
    val rel = spark.readStream.format("graft-cdc")
      .option("table", "cdc_lim_t").load()
      .queryExecution.analyzed.toString
    assert(rel.contains("graft-cdc"),
      s"stream not DSv2-relation-backed:\n$rel")
    spark.sql("DROP TABLE cdc_lim_t")
  }

  test("graft-cdc startingVersion ABOVE the current version never " +
      "checkpoints below the configured base: pre-base versions are " +
      "excluded, the first post-base commit streams") {
    val base = Files.createTempDirectory("graft_cdc_clamp")
    spark.sql(s"CREATE TABLE cdc_clamp_t (id INT, v INT) USING graft " +
      s"LOCATION '${base.resolve("t")}' TBLPROPERTIES('graft.keys'='id')")
    spark.sql("INSERT INTO cdc_clamp_t VALUES (1, 10)") // v0
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("table", "cdc_clamp_t")
        .option("startingVersion", "5").load()
        .writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("op", "_commit_version").collect()
            .foreach(r => got.add((r.getString(0), r.getInt(1))))
          ()
        }.start()
      assert(q.awaitTermination(60000))
    }
    drain() // table at v0 < base 5: boundary only, nothing delivered
    assert(got.isEmpty, s"delivered below the configured base: $got")
    // v1..v5 are at-or-below the base — still excluded after restart
    (2 to 6).foreach(i =>
      spark.sql(s"INSERT INTO cdc_clamp_t VALUES ($i, ${i * 10})"))
    drain()
    assert(got.isEmpty,
      s"checkpoint regressed below startingVersion: $got")
    spark.sql("INSERT INTO cdc_clamp_t VALUES (9, 90)") // v6: first AFTER base
    drain()
    val rows = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSeq
    assert(rows == Seq(("insert", 6)), s"got $rows")
    spark.sql("DROP TABLE cdc_clamp_t")
  }

  test("graft-cdc source edges: reserved column names refuse; " +
      "startingVersion=latest on a never-written table delivers the " +
      "first commit as the initial load, not a crash") {
    val base = Files.createTempDirectory("graft_cdc_edge")
    spark.sql(s"CREATE TABLE cdc_res_t (id INT, op STRING) USING graft " +
      s"LOCATION '${base.resolve("r")}' TBLPROPERTIES('graft.keys'='id')")
    val res = intercept[IllegalArgumentException](
      spark.readStream.format("graft-cdc")
        .option("table", "cdc_res_t").load())
    assert(res.getMessage.contains("reserves the column name"))
    spark.sql(
      s"""CREATE TABLE cdc_fresh_t (id INT, g STRING) USING graft
         |LOCATION '${base.resolve("f")}' PARTITIONED BY (g)
         |TBLPROPERTIES('graft.keys'='id,g')""".stripMargin)
    val got = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("table", "cdc_fresh_t")
        .option("startingVersion", "latest").load()
        .writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.addAndGet(b.count()); ()
        }.start()
      assert(q.awaitTermination(60000))
    }
    drain() // nothing committed yet: zero rows, zero crash
    assert(got.get == 0)
    spark.sql("INSERT INTO cdc_fresh_t VALUES (1,'a'), (2,'b')")
    drain() // the first commit IS the new data: delivered
    assert(got.get == 2, s"got ${got.get}")
    spark.sql("DROP TABLE cdc_res_t")
    spark.sql("DROP TABLE cdc_fresh_t")
  }

  test("graft-cdc initial load is ZERO-COPY: the first batch serves " +
      "the table's own live files (no staged snapshot dir); diff " +
      "batches stage; a DV-bearing snapshot stays zero-copy with the " +
      "deleted rows skipped in-plan") {
    import graft.ops.VersionedTable
    val base = Files.createTempDirectory("graft_cdc_zerocopy")
    def stagedRoot(ckpt: java.nio.file.Path) =
      ckpt.resolve("sources").resolve("0").resolve("staged")
    def drain(table: String, ckpt: java.nio.file.Path,
              got: java.util.concurrent.ConcurrentLinkedQueue[
                (String, Int, Int, String, Int)]): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("table", table).load()
        .writeStream.option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("op", "_commit_version", "id", "g", "v").collect()
            .foreach(r => got.add((r.getString(0), r.getInt(1),
              r.getInt(2), r.getString(3), r.getInt(4))))
          ()
        }.start()
      assert(q.awaitTermination(60000))
    }
    spark.sql(
      s"""CREATE TABLE cdc_zc_t (id INT, g STRING, v INT)
         |USING graft LOCATION '${base.resolve("t")}'
         |PARTITIONED BY (g)
         |TBLPROPERTIES('graft.keys'='id,g')""".stripMargin)
    spark.sql("INSERT INTO cdc_zc_t VALUES (1,'a',10), (2,'b',20)")
    val ckpt = base.resolve("ckpt")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, Int, String, Int)]()
    drain("cdc_zc_t", ckpt, got)
    // rows exact — constants injected, partition col recovered from the
    // dir path, output permuted to the served order
    val rows1 = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    assert(rows1 == Set(("insert", 0, 1, "a", 10),
      ("insert", 0, 2, "b", 20)), s"initial load wrong: $rows1")
    // and ZERO-COPY: no staged snapshot was ever written (stage()
    // would have created <ckpt>/sources/0/staged)
    assert(!java.nio.file.Files.exists(stagedRoot(ckpt)),
      "initial load staged a snapshot copy despite a clean manifest")
    // an APPEND-ONLY transition (whole new partition dir, nothing else
    // touched — the streaming-ingest shape) is ALSO zero-copy: the
    // batch serves exactly the new dir's files, still no staged dir
    spark.sql("INSERT INTO cdc_zc_t VALUES (7,'c',70), (8,'c',80)")
    drain("cdc_zc_t", ckpt, got)
    val rowsA = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    assert(rowsA == Set(("insert", 1, 7, "c", 70),
      ("insert", 1, 8, "c", 80)), s"append-only diff wrong: $rowsA")
    assert(!java.nio.file.Files.exists(stagedRoot(ckpt)),
      "append-only transition staged a diff copy")
    // a GENERAL diff batch (an update touching an existing dir) DOES
    // stage (the staged dir appears; its batch dir is purged at commit)
    spark.sql("UPDATE cdc_zc_t SET v = 11 WHERE id = 1")
    drain("cdc_zc_t", ckpt, got)
    val rows2 = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    assert(rows2.exists(r => r._1 == "update_postimage" && r._5 == 11),
      s"diff batch wrong: $rows2")
    assert(java.nio.file.Files.exists(stagedRoot(ckpt)),
      "diff batch did not go through the staged path")
    // a snapshot carrying DELETION VECTORS is STILL zero-copy: the DV
    // file reads row-path with its deleted row indices skipped in-plan
    // (row-identical to the read path), DV-free files keep their
    // bin-packed columnar reads, and no staged snapshot dir appears —
    // attaching CDC to a table with one deletion vector must not write
    // a second table under the checkpoint
    val droot = base.resolve("d").toString
    VersionedTable.upsert(spark, droot,
      spark.createDataFrame(Seq((1, "a", 10), (2, "a", 20), (3, "a", 30),
        (4, "b", 40), (5, "b", 50)))
        .toDF("id", "g", "v"), Seq("id", "g"), Seq("g"))
    // two deletes in one dir's file (interior skip + boundary), dir b
    // untouched (stays columnar)
    VersionedTable.deleteWhereDV(spark, droot, "id", 2, 2)
    VersionedTable.deleteWhereDV(spark, droot, "id", 3, 3)
    spark.sql(s"CREATE TABLE cdc_zc_d USING graft LOCATION '$droot'")
    val ckptD = base.resolve("ckptD")
    drain("cdc_zc_d", ckptD, got)
    val rows3 = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    val expect3 = VersionedTable.read(spark, droot)
      .collect().map(r => ("insert", 2, r.getInt(0), r.getString(1),
        r.getInt(2))).toSet
    assert(rows3 == expect3 && rows3.map(_._3) == Set(1, 4, 5),
      s"DV zero-copy rows wrong: $rows3 vs read path $expect3")
    assert(!java.nio.file.Files.exists(stagedRoot(ckptD)),
      "DV-bearing snapshot staged a copy despite the in-plan DV path")
    // an APPEND-ONLY transition on the DV-carrying table is ALSO
    // zero-copy: the parked DV sits on an old dir the diff never
    // serves, and the DV-aware content tokens prove the common dirs
    // unchanged — a table is not punished forever for one delete
    VersionedTable.upsert(spark, droot,
      spark.createDataFrame(Seq((9, "c", 90), (10, "c", 100)))
        .toDF("id", "g", "v"), Seq("id", "g"), Seq("g"))
    drain("cdc_zc_d", ckptD, got)
    val rowsAD = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    assert(rowsAD == Set(("insert", 3, 9, "c", 90),
      ("insert", 3, 10, "c", 100)), s"DV-table append diff wrong: $rowsAD")
    assert(!java.nio.file.Files.exists(stagedRoot(ckptD)),
      "append-only diff on a DV-carrying table staged a copy")
    // but a DV landing ON a dir served by the pending range forces the
    // staged read path (rows added then deleted inside (from, to])
    VersionedTable.upsert(spark, droot,
      spark.createDataFrame(Seq((11, "e", 110), (12, "e", 120)))
        .toDF("id", "g", "v"), Seq("id", "g"), Seq("g"))
    VersionedTable.deleteWhereDV(spark, droot, "id", 12, 12)
    drain("cdc_zc_d", ckptD, got)
    val rowsDD = Iterator.continually(got.poll())
      .takeWhile(_ != null).toSet
    assert(rowsDD.map(r => (r._1, r._3)).contains(("insert", 11)) &&
      !rowsDD.exists(r => r._1 == "insert" && r._3 == 12),
      s"served-dir DV diff wrong: $rowsDD")
    spark.sql("DROP TABLE cdc_zc_t")
    spark.sql("DROP TABLE cdc_zc_d")
  }

  test("streaming WAP: exactly-once merge into a branch, then fast-forward") {
    import graft.ops.VersionedTable
    import org.apache.spark.sql.functions.{col, to_date}
    val base = Files.createTempDirectory("graft_stream_brwap")
    val raw = Files.createDirectory(base.resolve("raw"))
    val root = base.resolve("table").toString
    // seed main so there is something to fork
    VersionedTable.upsert(spark,
      root,
      spark.createDataFrame(Seq(
        ("SEED", java.sql.Timestamp.valueOf("2023-12-31 00:00:00"), 0.0,
          java.sql.Date.valueOf("2023-12-31"))))
        .toDF("symbol", "window_start", "ma", "day")
        .select(col("symbol"), col("window_start"), col("ma"), col("day")),
      keys = Seq("symbol", "window_start", "day"), Seq("day"))
    VersionedTable.createBranch(spark, root, "ingest")
    val ingest = s"$root@ingest"
    def run(ckpt: String): Unit = {
      val metrics = StreamPipeline.windowedMetrics(
        StreamPipeline.tickStream(spark, raw.toString),
        width = "5 minutes", slide = "5 minutes")
        .select(col("symbol"), col("window_start"), col("ma"))
        .withColumn("day", to_date(col("window_start")))
      StreamPipeline.startVersionedMerge(metrics, ingest, ckpt,
        keys = Seq("symbol", "window_start", "day"), partCols = Seq("day"),
        streamId = "wap-ingest").awaitTermination(60000)
    }
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "m1.csv", Seq("AAA,10.0,0.0,,100,2024-01-01T00:01:00"))
    run(ckpt)
    writeCsv(raw, "m2.csv", Seq("AAA,20.0,0.0,,100,2024-01-01T01:00:00"))
    run(ckpt)
    // the stream landed on the BRANCH only; main still has just the seed
    assert(VersionedTable.read(spark, ingest).count() > 1)
    assert(VersionedTable.read(spark, root).count() == 1)
    // txn watermark lives in the branch lineage, not main's
    assert(VersionedTable.lastTxn(spark, ingest, "wap-ingest").isDefined)
    assert(VersionedTable.lastTxn(spark, root, "wap-ingest").isEmpty)
    // audit passed: publish — main gets the rows AND the txn watermark
    // (per-stream max merges in), so replay protection survives the merge
    VersionedTable.fastForward(spark, root, "ingest")
    assert(VersionedTable.read(spark, root).count() ==
      VersionedTable.read(spark, ingest).count() + 1 -
        1) // seed row is in both (branch forked after the seed)
    assert(VersionedTable.lastTxn(spark, root, "wap-ingest") ==
      VersionedTable.lastTxn(spark, ingest, "wap-ingest"))
    // checkpoint loss on the BRANCH after publish: replays are no-ops
    val vsBranch = VersionedTable.history(spark, ingest)
    run(base.resolve("ckpt2").toString)
    assert(VersionedTable.history(spark, ingest) == vsBranch)
  }

  test("startMatViewRefresh: the view tracks the table while writes land") {
    import graft.ops.{MatView, VersionedTable}
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_mv_stream")
    val (src, view) = (base.resolve("src").toString, base.resolve("v").toString)
    def put(rows: (Int, String, Long)*): Unit =
      VersionedTable.upsert(spark, src,
        spark.createDataFrame(rows).toDF("id", "g", "x"), Seq("id", "g"),
        "g")
    put((1, "a", 10L), (2, "a", 20L), (3, "b", 5L))
    MatView.create(spark, view, src, Seq("id", "g"), Seq("g"),
      sums = Seq(("x_sum", "x")), countAlias = Some("n"))
    def served(): Map[String, (Long, Long)] =
      MatView.read(spark, view).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def truth(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, src).groupBy(col("g"))
        .agg(org.apache.spark.sql.functions.sum("x"),
          org.apache.spark.sql.functions.count(col("*"))).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def await(deadlineMs: Long = 30000): Unit = {
      val end = System.currentTimeMillis + deadlineMs
      while (served() != truth() && System.currentTimeMillis < end)
        Thread.sleep(100)
      assert(served() == truth())
    }
    val q = StreamPipeline.startMatViewRefresh(spark, view,
      pollInterval = "100 milliseconds")
    try {
      // writes land WHILE the refresher runs; the serving aggregate
      // converges without any explicit refresh call
      put((4, "a", 30L), (5, "c", 7L))
      await()
      VersionedTable.deleteMatching(spark, src, col("g") === "b")
      await()
      assert(!served().contains("b"))
    } finally q.stop()
  }

  test("startChangeFeedStream: live CDC, crash/restart, mirror equals table") {
    import graft.ops.VersionedTable
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_cdc_stream")
    val root = base.resolve("table").toString
    val cursor = base.resolve("cursor").toString
    val keys = Seq("id")
    def put(rows: (Int, String, String)*): Unit =
      VersionedTable.upsert(spark, root,
        spark.createDataFrame(rows).toDF("id", "day", "val"), Seq("id", "day"),
        "day")
    // the mirror a warehouse would maintain: keyed MERGE of the streamed
    // CDC ops — idempotent, so at-least-once redelivery is harmless
    val mirror = scala.collection.concurrent.TrieMap.empty[Int, (String, String)]
    def apply(feed: org.apache.spark.sql.DataFrame): Unit =
      feed.select("op", "id", "day", "val").collect().foreach { r =>
        if (r.getString(0) == "delete") mirror.remove(r.getInt(1))
        else mirror(r.getInt(1)) = (r.getString(2), r.getString(3))
      }
    def tableNow(): Map[Int, (String, String)] =
      VersionedTable.read(spark, root)
        .select(col("id"), col("day").cast("string"), col("val"))
        .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getString(2))))
        .toMap
    def awaitMirror(deadlineMs: Long = 30000): Unit = {
      val end = System.currentTimeMillis + deadlineMs
      while (mirror.toMap != tableNow() && System.currentTimeMillis < end)
        Thread.sleep(100)
      assert(mirror.toMap == tableNow())
    }
    // consumer starts BEFORE the table exists — ticks skip, not crash
    val q1 = StreamPipeline.startChangeFeedStream(spark, root, keys,
      cursor, pollInterval = "100 milliseconds")(apply)
    try {
      put((1, "2024-01-01", "a"), (2, "2024-01-02", "b")) // v0
      awaitMirror() // initial load: whole table as op=insert
      // upserts LAND WHILE THE CONSUMER RUNS: update + new partition
      put((1, "2024-01-01", "a2"), (3, "2024-01-03", "c")) // v1
      awaitMirror()
      assert(mirror(1) == (("2024-01-01", "a2")))
    } finally q1.stop()
    // CRASH: consumer down while the table moves on — a delete and an
    // insert commit unobserved
    VersionedTable.deleteWhere(spark, root, "val", "b", "b")
    put((4, "2024-01-04", "d"))
    assert(mirror.contains(2)) // the dead consumer missed the delete
    // RESTART from the same cursor: catches up to exactly the batch
    // changeFeed answer — delete applied, insert applied, no replays of
    // already-mirrored ops needed (keyed merge tolerates them anyway)
    val q2 = StreamPipeline.startChangeFeedStream(spark, root, keys,
      cursor, pollInterval = "100 milliseconds")(apply)
    try {
      awaitMirror()
      assert(!mirror.contains(2) && mirror(4) == (("2024-01-04", "d")))
    } finally q2.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap and timeout") {
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.{Event, Session}
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sessions")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def writeJsonl(name: String, rows: Seq[String]): Unit =
      Files.writeString(raw.resolve(name), rows.mkString("\n"))
    def run(): Unit = {
      val events = spark.readStream
        .schema("key STRING, ts TIMESTAMP, value DOUBLE")
        .json(raw.toString).as[Event]
      SessionizeStream.byGap(events, gapMinutes = 30, watermark = "0 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", out).start()
        .awaitTermination(60000)
    }
    // session 1: two events 10 min apart; then a 2h gap breaks it
    writeJsonl("s1.jsonl", Seq(
      """{"key":"u1","ts":"2024-01-01 00:00:00","value":1.0}""",
      """{"key":"u1","ts":"2024-01-01 00:10:00","value":2.0}"""))
    run()
    writeJsonl("s2.jsonl", Seq(
      """{"key":"u1","ts":"2024-01-01 02:10:00","value":5.0}"""))
    run()
    // advance watermark far past session 2's timeout so it closes too
    writeJsonl("s3.jsonl", Seq(
      """{"key":"u2","ts":"2024-01-01 09:00:00","value":0.5}"""))
    run()
    writeJsonl("s4.jsonl", Seq(
      """{"key":"u2","ts":"2024-01-01 12:00:00","value":0.5}"""))
    run()
    val sessions = spark.read.schema(
        "key STRING, session_start TIMESTAMP, session_end TIMESTAMP, n_events LONG, value_sum DOUBLE")
      .parquet(out).as[Session].collect().sortBy(s => (s.key, s.session_start.getTime))
    val u1 = sessions.filter(_.key == "u1")
    assert(u1.length == 2, s"expected 2 closed u1 sessions, got ${sessions.mkString(";")}")
    assert(u1(0).n_events == 2 && u1(0).value_sum == 3.0)
    assert(u1(0).session_end.toString.startsWith("2024-01-01 00:10"))
    assert(u1(1).n_events == 1 && u1(1).value_sum == 5.0)
  }

  test("watermark drops rows later than the bound across micro-batches") {
    val base = Files.createTempDirectory("graft_stream_wm")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // batch 1 advances event time to 01:00
    writeCsv(raw, "b1.csv", Seq(
      "AAA,10.0,0.0,,100,2024-01-01T01:00:00"))
    val ticks = StreamPipeline.tickStream(spark, raw.toString)
    val metrics = StreamPipeline.windowedMetrics(ticks,
      watermark = "5 minutes", width = "5 minutes", slide = "5 minutes")
    val q1 = StreamPipeline.start(metrics, out, ckpt)
    q1.awaitTermination(60000)
    // batch 2: one fresh row and one row far behind the watermark (00:10)
    writeCsv(raw, "b2.csv", Seq(
      "AAA,99.0,0.0,,100,2024-01-01T00:10:00", // late: dropped
      "AAA,11.0,0.0,,100,2024-01-01T01:20:00"))
    val q2 = StreamPipeline.start(metrics, out, ckpt)
    q2.awaitTermination(60000)

    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select("window_start", "ma").as[(java.sql.Timestamp, Double)]
      .collect().toMap
    // the late 00:10 window must never appear
    assert(!rows.keys.exists(_.toString.startsWith("2024-01-01 00:10")))
  }

  test("streaming session_window: sessions emit once the watermark closes them") {
    val base = Files.createTempDirectory("graft_stream_sess")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // AAA: two events 10 min apart (one session, gap 30m); BBB: one event
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:11:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00"))
    def runOnce(): Unit = {
      val q = StreamPipeline.sessionMetrics(
          StreamPipeline.tickStream(spark, raw.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out) }
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    // advance the watermark far past session end + gap so sessions close
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T03:00:00"))
    runOnce()
    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select("symbol", "n_events", "value_sum")
      .as[(String, Long, Double)].collect().toSet
    assert(rows.contains(("AAA", 2L, 22.0))) // merged 00:01+00:11 session
    assert(rows.contains(("BBB", 1L, 50.0)))
  }

  test("stream-stream interval join pairs events within the lookback only") {
    val base = Files.createTempDirectory("graft_stream_ij")
    val rawL = Files.createDirectory(base.resolve("rawL"))
    val rawR = Files.createDirectory(base.resolve("rawR"))
    val out = base.resolve("out").toString
    // left: trades; right: quotes — a trade picks up quotes from the
    // preceding 10 minutes of the same symbol
    writeCsv(rawL, "l.csv", Seq(
      "AAA,100.0,0.0,,1,2024-01-01T00:10:00"))
    writeCsv(rawR, "r.csv", Seq(
      "AAA,99.0,0.0,,1,2024-01-01T00:05:00",   // within lookback
      "AAA,98.0,0.0,,1,2024-01-01T00:09:00",   // within lookback
      "AAA,50.0,0.0,,1,2024-01-01T00:20:00",   // after the trade: excluded
      "BBB,1.0,0.0,,1,2024-01-01T00:06:00"))   // other key: excluded
    val joined = StreamPipeline.intervalJoin(
      StreamPipeline.tickStream(spark, rawL.toString)
        .select("symbol", "price", "timestamp"),
      StreamPipeline.tickStream(spark, rawR.toString)
        .selectExpr("symbol", "price AS quote_price",
          "timestamp AS quote_ts"),
      key = "symbol", leftTs = "timestamp", rightTs = "quote_ts")
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out) }
      .start()
    q.awaitTermination(90000)
    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select("symbol", "quote_price").as[(String, Double)].collect().toSet
    assert(rows == Set(("AAA", 99.0), ("AAA", 98.0)))
  }

  test("left-outer interval join: unmatched lefts emit null-padded after watermark") {
    val base = Files.createTempDirectory("graft_stream_ijo")
    val rawL = Files.createDirectory(base.resolve("rawL"))
    val rawR = Files.createDirectory(base.resolve("rawR"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(rawL, "l.csv", Seq(
      "AAA,100.0,0.0,,1,2024-01-01T00:10:00",   // has a quote
      "CCC,70.0,0.0,,1,2024-01-01T00:11:00"))   // never matched
    writeCsv(rawR, "r.csv", Seq(
      "AAA,99.0,0.0,,1,2024-01-01T00:05:00"))
    def joined() = StreamPipeline.intervalJoin(
      StreamPipeline.tickStream(spark, rawL.toString)
        .select("symbol", "price", "timestamp"),
      StreamPipeline.tickStream(spark, rawR.toString)
        .selectExpr("symbol", "price AS quote_price",
          "timestamp AS quote_ts"),
      key = "symbol", leftTs = "timestamp", rightTs = "quote_ts",
      joinType = "leftOuter")
    def runOnce(): Unit = {
      val q = joined().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out) }
        .start()
      q.awaitTermination(90000)
    }
    runOnce()
    // push both watermarks far past 00:11 + lookback so CCC's no-match
    // verdict becomes final and the null-padded row emits
    writeCsv(rawL, "l2.csv", Seq("AAA,101.0,0.0,,1,2024-01-01T01:00:00"))
    writeCsv(rawR, "r2.csv", Seq("AAA,97.0,0.0,,1,2024-01-01T01:00:00"))
    runOnce()
    runOnce()
    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select("symbol", "quote_price").as[(String, Option[Double])]
      .collect().toSet
    assert(rows.contains(("AAA", Some(99.0))))  // matched pair intact
    assert(rows.contains(("CCC", None)))        // outer row, null-padded
  }

  test("transformWithState: running per-key stats, state survives batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // transformWithState requires the RocksDB provider
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Files.createTempDirectory("graft_stream_tws")
      val raw = Files.createDirectory(base.resolve("raw"))
      val out = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      writeCsv(raw, "a.csv", Seq(
        "AAA,10.0,0.0,,1,2024-01-01T00:01:00",
        "AAA,20.0,0.0,,1,2024-01-01T00:02:00",
        "BBB,5.0,0.0,,1,2024-01-01T00:01:30"))
      import spark.implicits._
      def runOnce(): Unit = {
        val ticks = StreamPipeline.tickStream(spark, raw.toString)
          .selectExpr("symbol AS key", "timestamp AS ts", "price AS value")
          .as[graft.streaming.RunningStats.Tick]
        graft.streaming.RunningStats.runningFeatures(ticks)
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out)
          .start().awaitTermination(90000)
      }
      runOnce()
      // batch 2: running state must CONTINUE from (n=2, sum=30) for AAA
      writeCsv(raw, "b.csv", Seq("AAA,30.0,0.0,,1,2024-01-01T00:10:00"))
      runOnce()
      val rows = spark.read.parquet(out)
        .select("key", "run_n", "run_avg", "run_min", "run_max")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(rows.contains(("AAA", 1L, 10.0, 10.0, 10.0)))
      assert(rows.contains(("AAA", 2L, 15.0, 10.0, 20.0)))
      assert(rows.contains(("AAA", 3L, 20.0, 10.0, 30.0))) // state carried over
      assert(rows.contains(("BBB", 1L, 5.0, 5.0, 5.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("CusumStream: batch-calibrated drift alarms, state carries across batches") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Files.createTempDirectory("graft_stream_cusum")
      val raw = Files.createDirectory(base.resolve("raw"))
      val out = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      import spark.implicits._
      // in-control reference: AAA ticks around 10 (sd ~ 0.1)
      val reference = Seq.tabulate(20)(i => ("AAA", 10.0 + (i % 3) * 0.1))
        .toDF("symbol", "price")
      def runOnce(): Unit = {
        val ticks = StreamPipeline.tickStream(spark, raw.toString)
          .selectExpr("symbol", "timestamp AS ts", "price")
        graft.streaming.CusumStream.drift(
            graft.streaming.CusumStream.calibrate(ticks, reference,
              "symbol", "price"))
          .toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out)
          .start().awaitTermination(90000)
      }
      // batch 1: modest +0.3 drift — accumulates but must NOT alarm yet
      writeCsv(raw, "a.csv", Seq(
        "AAA,10.3,0.0,,1,2024-01-01T00:01:00",
        "AAA,10.3,0.0,,1,2024-01-01T00:02:00"))
      runOnce()
      // batch 2: the SAME modest drift continues; only the carried state
      // pushes S+ across the 4*sd decision interval
      writeCsv(raw, "b.csv", Seq(
        "AAA,10.3,0.0,,1,2024-01-01T00:03:00",
        "AAA,10.3,0.0,,1,2024-01-01T00:04:00"))
      runOnce()
      val rows = spark.read.parquet(out)
        .select("ts", "cusum_pos", "alarm")
        .as[(java.sql.Timestamp, Double, Boolean)].collect()
        .sortBy(_._1.getTime)
      assert(rows.length == 4)
      // S+ strictly increases across the batch boundary (state carried)
      assert(rows.map(_._2).sliding(2).forall(w => w(1) > w(0)))
      assert(!rows(0)._3, "first tick must not alarm")
      assert(rows.last._3, "sustained drift must eventually alarm")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("J2: chained stateful ops — windowed aggs join as declared (Spark 4)") {
    // the reference DECLARED this DAG but ran a batch twin because
    // Spark < 3.5 rejected chained stateful operators; Spark 4 propagates
    // watermarks through them, so the declared shape runs end to end
    val base = Files.createTempDirectory("graft_stream_j2")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00"))
    def runOnce(): Unit = {
      val q = StreamPipeline.joinedMetrics(
          StreamPipeline.tickStream(spark, raw.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out) }
        .start()
      q.awaitTermination(90000)
    }
    runOnce()
    // advance the watermark past both grids' window ends so joins emit
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T03:00:00"))
    runOnce()
    import spark.implicits._
    val rows = spark.read.parquet(out)
    assert(rows.columns.toSet == Set("symbol", "window_start", "ma_15m",
      "volatility_15m", "n_15m", "ma_1h", "n_1h"))
    // the aligned [00:00, …) windows: 15m grid sees both AAA ticks, 1h too
    val aaa = rows.filter($"symbol" === "AAA")
      .filter($"window_start" === "2024-01-01 00:00:00")
      .select("n_15m", "n_1h", "ma_15m", "ma_1h")
      .as[(Long, Long, Double, Double)].collect()
    assert(aaa.headOption.contains((2L, 2L, 11.0, 11.0)))
  }

  test("J2 equivalence: drained stream row-set == joinOnWindowStart twin") {
    // the drained streaming join must produce EXACTLY the batch
    // composition Combine.joinOnWindowStart builds from the same input —
    // the row-set equivalence that makes the reference's batch twin and
    // the declared streaming DAG interchangeable (VERDICT r3 #8)
    import graft.model.Schemas
    import graft.ops.{Clean, Combine, Ingest, TimeWindows}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_j2eq")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
      "AAA,11.0,0.1,,150,2024-01-01T00:23:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00",
      "BBB,52.0,0.5,,30,2024-01-01T00:31:00"))
    def runOnce(): Unit = {
      val q = StreamPipeline.joinedMetrics(
          StreamPipeline.tickStream(spark, raw.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out) }
        .start()
      q.awaitTermination(90000)
    }
    runOnce()
    // two watermark pushes so every core window's end is passed; the
    // second flush's own windows never emit (watermark stops 5 min short)
    // and are excluded from both sides by the window_start cut below
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T03:00:00"))
    runOnce()
    writeCsv(raw, "c.csv", Seq("AAA,11.5,0.0,,50,2024-01-01T06:00:00"))
    runOnce()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .filter($"window_start" < "2024-01-01 05:00:00")
      .collect().map { r =>
        def r6(d: Double) = math.rint(d * 1e6) / 1e6
        (r.getAs[String]("symbol"),
          r.getAs[java.sql.Timestamp]("window_start").toString,
          r6(r.getAs[Double]("ma_15m")),
          Option(r.getAs[java.lang.Double]("volatility_15m"))
            .map(v => r6(v.doubleValue)),
          r.getAs[Long]("n_15m"),
          r6(r.getAs[Double]("ma_1h")),
          r.getAs[Long]("n_1h"))
      }.toSet

    val streamed = canon(spark.read.parquet(out))

    // batch twin from the SAME raw files via the batch operators
    val ticks = Clean.castTicks(
      Ingest.readCsv(spark, raw.toString, Schemas.tickRaw))
    val m15 = TimeWindows.flattenWindow(TimeWindows.metricWindow(ticks,
        "symbol", "timestamp", "price", col("volume"),
        "15 minutes", Some("5 minutes")))
      .select(col("symbol"), col("window_start"), col("ma").as("ma_15m"),
        col("volatility").as("volatility_15m"),
        col("n_events").as("n_15m"))
    val h1 = TimeWindows.flattenWindow(TimeWindows.metricWindow(ticks,
        "symbol", "timestamp", "price", col("volume"),
        "1 hour", Some("10 minutes")))
      .select(col("symbol"), col("window_start"), col("ma").as("ma_1h"),
        col("n_events").as("n_1h"))
    val twin = canon(Combine.joinOnWindowStart(m15, h1, "symbol"))

    assert(streamed.nonEmpty)
    assert(streamed == twin,
      s"streamed-only: ${streamed -- twin}\ntwin-only: ${twin -- streamed}")
  }

  test("joinedMetrics: one windowed aggregate, 15m metrics over the 1h " +
      "window's first 15 minutes") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_fused")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.0,,1,2024-01-01T00:00:00",
      "AAA,12.0,0.0,,1,2024-01-01T00:05:00",
      // exactly window_start + 15 min for the 00:00 window: in its 1h
      // metrics, not in its 15m ones
      "AAA,20.0,0.0,,1,2024-01-01T00:15:00",
      // alone: the 1h windows starting 23:30-00:00 hold it past their
      // first 15 minutes and emit nothing
      "BBB,50.0,0.0,,1,2024-01-01T00:20:00"))
    val ss = StreamPipeline.scopedSession(spark, 3)
    def runOnce(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = StreamPipeline.joinedMetrics(
          StreamPipeline.tickStream(ss, raw.toString))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out) }
        .start()
      assert(q.awaitTermination(90000))
      q.recentProgress.toSeq
    }
    val progress = runOnce()
    // the flush tick's watermark (02:55) closes every window above
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,1,2024-01-01T03:00:00"))
    val all = progress ++ runOnce()

    val got = spark.read.parquet(out)
      .select($"symbol",
        org.apache.spark.sql.functions.date_format($"window_start",
          "yyyy-MM-dd HH:mm:ss"),
        $"n_15m", $"n_1h", $"ma_15m", $"volatility_15m", $"ma_1h")
      .as[(String, String, Long, Long, Double, Option[Double], Double)]
      .collect().map { case (sym, ws, n15, n1h, ma15, vol, ma1h) =>
        (sym, ws, n15, n1h, ma15, vol.map(v => math.rint(v * 1e9) / 1e9),
          ma1h)
      }.sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("AAA", "2023-12-31 23:50:00", 1L, 3L, 10.0, None, 14.0),
      ("AAA", "2024-01-01 00:00:00", 2L, 3L, 11.0,
        Some(math.rint(math.sqrt(2.0) * 1e9) / 1e9), 14.0),
      ("AAA", "2024-01-01 00:10:00", 1L, 1L, 20.0, None, 20.0),
      ("BBB", "2024-01-01 00:10:00", 1L, 1L, 50.0, None, 50.0),
      ("BBB", "2024-01-01 00:20:00", 1L, 1L, 50.0, None, 50.0)), got)
    // ONE stateful operator, one state store per state partition
    val stateful = all.filter(_.stateOperators.nonEmpty)
    assert(stateful.nonEmpty)
    stateful.foreach { p =>
      assert(p.stateOperators.length == 1, p.json)
      assert(p.stateOperators.head.numStateStoreInstances == 3, p.json)
    }
  }

  test("streaming curation: quality gate + hash split are stream-safe") {
    // the curation ops are pure narrow transforms, so the SAME code runs
    // unchanged on a stream — this pins that no op sneaks in a batch-only
    // construct (window without watermark, collect, global sort...)
    import graft.ops.Curate
    import graft.text.TextAnalysis
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft_stream_curate")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Files.writeString(raw.resolve("d1.jsonl"), Seq(
      """{"doc_id":1,"text":"the quick brown fox jumps over the lazy dog and runs on in it is"}""",
      """{"doc_id":2,"text":"!!!"}""").mkString("\n"))
    val docs = spark.readStream.schema(schema).json(raw.toString)
    val curated = Curate.hashSplit(
      docs.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .filter(col("n_tokens") >= 5),
      col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt = "v1")
    curated.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start().awaitTermination(60000)
    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(rows.map(_._1).toSet == Set(1L)) // the junk doc is gated out
    // stream assignment == batch assignment (same hash, same salt)
    val batchSplit = Curate.hashSplit(Seq((1L, "x")).toDF("doc_id", "t"),
      $"doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt = "v1").select("split").as[String].head()
    assert(rows.head._2 == batchSplit)
  }

  test("startPreview: bounded rows per batch reach the driver handler") {
    val base = Files.createTempDirectory("graft_stream_preview")
    val raw = Files.createDirectory(base.resolve("raw"))
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "p.csv", (1 to 50).map(i =>
      s"SYM$i,${i}.0,0.0,,10,2024-01-01T00:00:${i % 60}"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    StreamPipeline.startPreview(
        StreamPipeline.tickStream(spark, raw.toString), ckpt, maxRows = 7) {
      (_, rows) => seen.add(rows.size)
    }.awaitTermination(60000)
    assert(!seen.isEmpty)
    seen.forEach(n => assert(n <= 7, s"cap breached: $n rows"))
  }

  test("windowed approx-distinct: HLL state emits exact counts at low card") {
    val base = Files.createTempDirectory("graft_stream_hll")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // 3 distinct symbols in [00:00, 00:15), one twice — distinct=3, n=4
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
      "CCC,30.0,0.0,,5,2024-01-01T00:07:00"))
    def runOnce(): Unit =
      StreamPipeline.windowedApproxDistinct(
          StreamPipeline.tickStream(spark, raw.toString),
          ts = "timestamp", distinctCol = "symbol")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start().awaitTermination(60000)
    runOnce()
    writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T01:00:00"))
    runOnce()
    import spark.implicits._
    val w0 = spark.read.parquet(out)
      .filter($"window_start" === "2024-01-01 00:00:00")
      .select("approx_distinct", "n_events").as[(Long, Long)].collect()
    // HLL++ at rsd=0.01 is exact at cardinality 3
    assert(w0.headOption.contains((3L, 4L)))
  }

  test("drift monitor: shifted window scores higher PSI than in-range one") {
    val base = Files.createTempDirectory("graft_stream_drift")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // reference distribution: prices spread over [0, 100)
    import spark.implicits._
    val ref = graft.ops.Stats.histogram(
      (0 until 100).map(i => i.toDouble).toDF("price"),
      Nil, "price", lo = 0.0, hi = 100.0, nbins = 10)
      .select("bin", "n")
    // window 0 draws from the reference range; window 1 is all clamped
    // into the top bin (drifted)
    writeCsv(raw, "a.csv", Seq(
      "AAA,5.0,0.0,,1,2024-01-01T00:01:00",
      "AAA,25.0,0.0,,1,2024-01-01T00:04:00",
      "AAA,45.0,0.0,,1,2024-01-01T00:07:00",
      "AAA,65.0,0.0,,1,2024-01-01T00:10:00",
      "AAA,85.0,0.0,,1,2024-01-01T00:13:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:16:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:17:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:18:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:19:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:20:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:21:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:22:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:23:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:24:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:25:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:26:00",
      "AAA,999.0,0.0,,1,2024-01-01T00:27:00"))
    def runOnce(): Unit =
      StreamPipeline.startDriftMonitor(
        StreamPipeline.tickStream(spark, raw.toString),
        ts = "timestamp", value = "price", referenceCounts = ref,
        lo = 0.0, hi = 100.0, nbins = 10, outPath = out,
        checkpointDir = ckpt).awaitTermination(60000)
    runOnce()
    // advance the watermark so both windows close
    writeCsv(raw, "b.csv", Seq("AAA,1.0,0.0,,1,2024-01-01T02:00:00"))
    runOnce()
    val got = spark.read.parquet(out)
      .select("window_start", "psi", "n_a")
      .as[(java.sql.Timestamp, Double, Long)].collect()
      .map { case (w, p, n) => (w.toString, (p, n)) }.toMap
    val inRange = got("2024-01-01 00:00:00.0")
    val drifted = got("2024-01-01 00:15:00.0")
    assert(inRange._2 == 5L && drifted._2 == 12L)
    assert(drifted._1 > 3.0 * inRange._1,
      s"drifted window must price far above in-range: $got")
  }

  test("scopedSession pins stream-local shuffle partitions, parent untouched") {
    val key = "spark.sql.shuffle.partitions"
    val parentBefore = spark.conf.get(key)
    val scoped = graft.streaming.StreamPipeline.scopedSession(spark, 3)
    // the scoped setting holds for plans built off the clone (AQE may
    // coalesce at runtime, so pin the PLANNED exchange width)...
    assert(scoped.conf.get(key) == "3")
    def plannedWidth(s: org.apache.spark.sql.SparkSession): String = {
      val p = s.range(100)
        .groupBy(org.apache.spark.sql.functions.expr("id % 5")).count()
        .queryExecution.executedPlan.toString
      "hashpartitioning\\([^)]*?(\\d+)\\)".r
        .findFirstMatchIn(p).map(_.group(1)).getOrElse("?")
    }
    assert(plannedWidth(scoped) == "3")
    // ...the parent session keeps its own, and both share one context
    assert(spark.conf.get(key) == parentBefore)
    assert(plannedWidth(spark) == parentBefore)
    assert(scoped.sparkContext eq spark.sparkContext)
  }

  test("StreamMonitor: bounded per-batch stats captured via listener") {
    val base = Files.createTempDirectory("graft_stream_mon")
    val raw = Files.createDirectory(base.resolve("raw"))
    val ckpt = base.resolve("ckpt").toString
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00"))
    val mon = StreamMonitor.attach(spark, maxEntries = 4)
    try {
      // name the query and filter stats by it: the listener bus is shared
      // with every other streaming test in this suite and delivers
      // asynchronously, so unfiltered totals could see lagging events
      val q = StreamPipeline.windowedMetrics(
          StreamPipeline.tickStream(spark, raw.toString))
        .writeStream.outputMode("append")
        .queryName("graft_mon_probe")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("noop").start()
      q.awaitTermination(60000)
      val mine = Some("graft_mon_probe")
      var waited = 0
      while (mon.totalInputRows(mine) < 2 && waited < 10000) {
        Thread.sleep(200); waited += 200
      }
      assert(mon.totalInputRows(mine) == 2L)
      val stats = mon.stats.filter(_.query == "graft_mon_probe")
      assert(stats.nonEmpty && mon.stats.size <= 4)
      assert(stats.forall(_.triggerMs >= 0))
    } finally StreamMonitor.detach(spark, mon)
  }

  test("windowed heavy hitters: MG sketch as streaming state recalls the hot item") {
    val base = Files.createTempDirectory("graft_stream_hh")
    val raw = Files.createDirectory(base.resolve("raw"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // AAA appears 3/5 times in [00:00, 00:15) — must be in the candidate
    // set of any k >= 2 sketch (MG: every item above n/k survives)
    writeCsv(raw, "a.csv", Seq(
      "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
      "BBB,50.0,0.0,,10,2024-01-01T00:02:00",
      "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
      "CCC,30.0,0.0,,5,2024-01-01T00:07:00",
      "AAA,11.0,0.0,,50,2024-01-01T00:08:00"))
    def runOnce(): Unit =
      StreamPipeline.windowedHeavyHitters(
          StreamPipeline.tickStream(spark, raw.toString),
          ts = "timestamp", itemCol = "symbol", k = 2)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start().awaitTermination(60000)
    runOnce()
    // advance the watermark past the window so it closes and emits
    writeCsv(raw, "b.csv", Seq("ZZZ,1.0,0.0,,1,2024-01-01T01:00:00"))
    runOnce()
    import spark.implicits._
    val w0 = spark.read.parquet(out)
      .filter($"window_start" === "2024-01-01 00:00:00")
      .select("candidates", "n_events")
      .as[(Seq[String], Long)].collect()
    assert(w0.length == 1)
    assert(w0.head._2 == 5L)
    assert(w0.head._1.contains("AAA"))
  }

  test("RocksDB state store: windowed agg runs with off-heap state") {
    // At 100 TB/day the streaming state (windows x keys) outgrows executor
    // heaps; RocksDB spills state to local disk with an in-heap cache.
    // Provider is read at query start from session conf — scope it to this
    // test and restore after.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Files.createTempDirectory("graft_stream_rocks")
      val raw = Files.createDirectory(base.resolve("raw"))
      val out = base.resolve("out").toString
      val ckpt = base.resolve("ckpt")
      writeCsv(raw, "a.csv", Seq(
        "AAA,10.0,0.1,1.0%,100,2024-01-01T00:01:00",
        "AAA,12.0,0.2,2.0%,200,2024-01-01T00:06:00",
        "BBB,50.0,0.0,,10,2024-01-01T00:02:00"))
      def runOnce(): Unit =
        StreamPipeline.windowedMetrics(
            StreamPipeline.tickStream(spark, raw.toString))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", out)
          .start().awaitTermination(60000)
      runOnce()
      writeCsv(raw, "b.csv", Seq("AAA,11.0,0.0,,50,2024-01-01T01:00:00"))
      runOnce()
      import spark.implicits._
      val w0 = spark.read.parquet(out)
        .filter($"symbol" === "AAA" &&
          $"window_start" === "2024-01-01 00:00:00")
        .select("n_events").as[Long].collect()
      assert(w0.headOption.contains(2L)) // same result as the HDFS store
      // and the checkpoint really used RocksDB: its state layout ships
      // zipped snapshots / SST files, not the HDFS store's flat .delta
      val stateFiles = java.nio.file.Files.walk(ckpt.resolve("state"))
        .iterator().asInstanceOf[java.util.Iterator[Path]]
      var sawRocks = false
      while (stateFiles.hasNext) {
        val f = stateFiles.next().toString
        if (f.endsWith(".zip") || f.endsWith(".sst") || f.contains("SSTs"))
          sawRocks = true
      }
      assert(sawRocks)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
