package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val ticks = Seq(
    // (symbol, price, volume, ts)
    ("AAA", 10.0, 100L, "2024-01-01 00:01:00"),
    ("AAA", 12.0, 200L, "2024-01-01 00:05:00"),
    ("AAA", 11.0, 300L, "2024-01-01 00:17:00"),
    ("BBB", 50.0, 10L, "2024-01-01 00:02:00"),
    ("BBB", 54.0, 20L, "2024-01-01 00:44:00")
  ).map { case (s, p, v, t) => (s, p, v, ts(t)) }
    .toDF("symbol", "price", "volume", "timestamp")

  test("Clean.castTicks parses reference tick shape incl. null percent") {
    val raw = Seq(
      ("AAA", "10.5", "0.5", "1.23%", "100", "2024-01-01T00:01:00"),
      ("BBB", "20.0", "-1.0", null, "250", "2024-01-01T00:02:00"))
      .toDF("symbol", "price", "change", "change_percent", "volume", "timestamp")
    val out = Clean.castTicks(raw).orderBy("symbol")
      .select("price", "change_percent", "volume", "timestamp")
      .collect()
    assert(out(0).getDouble(0) == 10.5)
    assert(out(0).getDouble(1) == 1.23)
    assert(out(1).isNullAt(1)) // null-tolerant (SURVEY §8.1)
    assert(out(0).getLong(2) == 100L)
    assert(out(0).getTimestamp(3) == ts("2024-01-01 00:01:00"))
  }

  test("Clean.qualityCounts counts range violations") {
    val df = Seq(1.0, -2.0, 0.0, 5.0).toDF("v")
    val r = Clean.qualityCounts(df, $"v" <= 0, $"v" > 4.0).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 1 && r.getLong(2) == 4)
  }

  test("Clean.impute fills numerics with 0 and strings with unknown") {
    val df = Seq((Some(1.0), Option("x")), (None, None))
      .toDF("num", "str")
    val r = Clean.impute(df, Seq("num"), Seq("str"))
      .orderBy("num").collect()
    assert(r(0).getDouble(0) == 0.0 && r(0).getString(1) == "unknown")
  }

  test("TimeWindows.metricWindow: tumbling 15m per symbol") {
    val out = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ticks, "symbol", "timestamp", "price",
        $"volume", "15 minutes"))
      .orderBy("symbol", "window_start").collect()
    // AAA window [00:00,00:15): avg(10,12)=11, sum vol 300
    assert(out(0).getAs[Double]("ma") == 11.0)
    assert(out(0).getAs[Long]("volume_sum") == 300L)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(0).getAs[Timestamp]("window_start") == ts("2024-01-01 00:00:00"))
    // single-row window: stddev normalized to null, not NaN
    assert(out(1).isNullAt(out(1).fieldIndex("volatility")))
  }

  test("TimeWindows.metricWindow: sliding 15m/5m assigns 3 windows per row") {
    val out = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ticks.filter($"symbol" === "BBB"),
        "symbol", "timestamp", "price", $"volume", "15 minutes",
        Some("5 minutes")))
    // each row lands in exactly 3 sliding windows
    assert(out.agg(sum("n_events")).collect()(0).getLong(0) == 6L)
  }

  test("TimeWindows.ohlcWindow: deterministic open/close via min_by/max_by") {
    val out = TimeWindows.flattenWindow(
      TimeWindows.ohlcWindow(ticks, "symbol", "timestamp", "price",
        "1 hour")).orderBy("symbol").collect()
    val aaa = out(0)
    assert(aaa.getAs[Double]("open") == 10.0)   // earliest ts
    assert(aaa.getAs[Double]("close") == 11.0)  // latest ts
    assert(aaa.getAs[Double]("high") == 12.0)
    assert(aaa.getAs[Double]("low") == 10.0)
  }

  test("TimeWindows.dailyOhlcv rolls up per (key, date)") {
    val out = TimeWindows.dailyOhlcv(ticks, "symbol", "timestamp", "price",
      $"volume").orderBy("symbol").collect()
    assert(out(1).getAs[Double]("daily_open") == 50.0)
    assert(out(1).getAs[Double]("daily_close") == 54.0)
    assert(out(1).getAs[Double]("daily_change") == 4.0)
    assert(out(1).getAs[Long]("daily_volume") == 30L)
  }

  test("WindowAnalytics.movingAverages: trailing row frames") {
    val out = WindowAnalytics.movingAverages(
      ticks.filter($"symbol" === "AAA"), "symbol",
      Seq("timestamp"), "price", Seq(2))
      .orderBy("timestamp").select("ma_2").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 11.0, 11.5))
  }

  test("WindowAnalytics.keepLast keeps exactly one row per key, the latest") {
    val out = Dedup.keepLast(ticks, Seq("symbol"), Seq("timestamp"))
      .select("symbol", "price").orderBy("symbol").collect()
    assert(out.length == 2)
    assert(out(0).getDouble(1) == 11.0 && out(1).getDouble(1) == 54.0)
  }

  test("Signals: trend / volatility / volume CASE arms") {
    val df = Seq((3.0, 2.0, 2.5, 10.0, 5.0), (1.0, 2.0, 0.5, 1.0, 5.0))
      .toDF("fast", "slow", "vol", "v_short", "v_long")
    val out = df.select(
      Signals.priceTrend($"fast", $"slow").as("t"),
      Signals.volatilityLevel($"vol").as("l"),
      Signals.volumeTrend($"v_short", $"v_long").as("v"))
      .collect()
    assert(out(0).getString(0) == "bullish" && out(0).getString(1) == "high"
      && out(0).getString(2) == "increasing")
    assert(out(1).getString(0) == "bearish" && out(1).getString(1) == "low"
      && out(1).getString(2) == "normal")
  }

  test("Combine.unionLong aligns by name and tags window_type") {
    val a = Seq((1, 2.0)).toDF("k", "v")
    val b = Seq((3.0, 4)).toDF("v", "k") // shuffled column order
    val out = Combine.unionLong(Seq("x" -> a, "y" -> b))
      .orderBy("window_type").collect()
    assert(out(0).getAs[Int]("k") == 1 && out(0).getAs[Double]("v") == 2.0)
    assert(out(1).getAs[Int]("k") == 4 && out(1).getAs[Double]("v") == 3.0)
  }

  test("Merge.upsert: update wins on key match, survivors kept") {
    val target = Seq((1, "old"), (2, "keep")).toDF("id", "val")
    val updates = Seq((1, "new"), (3, "ins")).toDF("id", "val")
    val out = Merge.upsert(target, updates, Seq("id"))
      .orderBy("id").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("Merge.applyCdc: last change per key wins; D tombstones; no-op deletes") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "val")
    val changes = Seq(
      (1, "A1", "U", 1L), (1, "A2", "U", 2L),   // later U wins
      (2, "x", "U", 1L), (2, "x", "D", 2L),     // D after U -> gone
      (3, "dead", "D", 1L), (3, "C", "U", 2L),  // U after D -> resurrected
      (9, "zz", "D", 1L))                       // tombstone of absent key
      .toDF("id", "val", "op", "seq")
      // malformed rows (NULL / unknown op) must be ignored, not treated as
      // tombstones: without the guard this NULL-op row would delete key 1
      .unionByName(Seq((1, "junk", null.asInstanceOf[String], 99L),
        (3, "junk", "X", 99L)).toDF("id", "val", "op", "seq"))
    val out = Merge.applyCdc(target, changes, Seq("id"), Seq("seq"))
      .orderBy("id").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "A2"), (3, "C")))
  }

  test("readParquetEvolved: old files null-fill new columns, casts align") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // v1 file: (id INT, val STRING); v2 adds score AND widens id to long —
    // the cross-file widening mergeSchema refuses to merge. Two appends
    // into one flat dir = the evolved-lake layout.
    Seq((1, "a")).toDF("id", "val").write.mode("append").parquet(dir)
    Seq((2L, "b", 0.5)).toDF("id", "val", "score")
      .write.mode("append").parquet(dir)
    val canonical = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),        // widened contract
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val out = graft.ops.Ingest.readParquetEvolved(spark, dir, canonical)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      canonical.map(f => (f.name, f.dataType)))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(2)) // old file: NULL score
    assert(rows(1).getLong(0) == 2L && rows(1).getDouble(2) == 0.5)
  }

  test("Merge.upsert is idempotent") {
    val target = Seq((1, "a"), (2, "b")).toDF("id", "val")
    val updates = Seq((2, "B")).toDF("id", "val")
    val once = Merge.upsert(target, updates, Seq("id"))
    val twice = Merge.upsert(once, updates, Seq("id"))
    assert(once.orderBy("id").collect().toSeq ==
      twice.orderBy("id").collect().toSeq)
  }

  test("Merge.upsertParquet swaps atomically on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val path = s"$dir/table"
    Merge.upsertParquet(spark, path, Seq((1, "a")).toDF("id", "val"), Seq("id"))
    Merge.upsertParquet(spark, path, Seq((1, "A"), (2, "b")).toDF("id", "val"),
      Seq("id"))
    val out = spark.read.parquet(path).orderBy("id").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "A"), (2, "b")))
  }

  test("Merge.upsertParquetPruned: untouched partitions keep file identity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mprune").toString
    val path = s"$dir/table"
    val target = Seq((1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
      (3, "2024-01-02", "c"), (4, "2024-01-03", "d"))
      .toDF("id", "day", "val")
    target.write.partitionBy("day").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileIdentity(part: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/day=$part"))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSeq.sortBy(_._1)
    val untouched1 = fileIdentity("2024-01-01")
    val untouched3 = fileIdentity("2024-01-03")
    // updates touch day 2 (update) and day 4 (new partition) only
    val updates = Seq((3, "2024-01-02", "C"), (9, "2024-01-04", "z"))
      .toDF("id", "day", "val")
    Merge.upsertParquetPruned(spark, path, updates, Seq("id", "day"), "day")
    // merged contents == logical full upsert (partition-type inference
    // reads day back as DATE; normalize to string for the compare)
    val out = spark.read.parquet(path)
      .select($"id", $"day".cast("string").as("day"), $"val").orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(out == Seq((1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
      (3, "2024-01-02", "C"), (4, "2024-01-03", "d"), (9, "2024-01-04", "z")))
    // untouched partition directories: same files, same bytes, same mtimes
    assert(fileIdentity("2024-01-01") == untouched1)
    assert(fileIdentity("2024-01-03") == untouched3)
    // idempotent re-merge still row-identical
    Merge.upsertParquetPruned(spark, path, updates, Seq("id", "day"), "day")
    assert(spark.read.parquet(path).count() == 5)
  }

  test("VersionedTable: crash between stage and publish is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vt").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b")).toDF("id", "day", "val"),
      keys, "day")
    def snapshot() = VersionedTable.read(spark, root)
      .select($"id", $"day".cast("string").as("day"), $"val").orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    val v0 = snapshot()
    assert(v0 == Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b")))
    // CRASH INJECTION: stage the next version fully (new generation dir +
    // manifest) but die before the commit marker — readers must still see
    // v0, bit-for-bit, with no partial state observable
    val staged = VersionedTable.prepare(spark, root,
      Seq((2, "2024-01-02", "B"), (3, "2024-01-03", "c")).toDF("id", "day", "val"),
      keys, Seq("day"))
    assert(snapshot() == v0) // unpublished stage is invisible
    // the dead writer's claim blocks a blind restage (same guard that
    // stops a CONCURRENT writer co-staging the version) ...
    intercept[IllegalStateException] {
      VersionedTable.prepare(spark, root,
        Seq((2, "2024-01-02", "B")).toDF("id", "day", "val"), keys, Seq("day"))
    }
    // ... recovery is explicit: vacuum clears unpublished stages, then a
    // RESTARTED writer re-stages the same version and publishes — readers
    // jump old -> new atomically
    VersionedTable.vacuum(spark, root)
    assert(snapshot() == v0) // vacuum never touches the committed version
    val restaged = VersionedTable.prepare(spark, root,
      Seq((2, "2024-01-02", "B"), (3, "2024-01-03", "c")).toDF("id", "day", "val"),
      keys, Seq("day"))
    assert(restaged == staged)
    assert(snapshot() == v0) // still old until the marker exists
    VersionedTable.publish(spark, root, restaged)
    assert(snapshot() == Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "B"),
      (3, "2024-01-03", "c")))
    // untouched partition day=2024-01-01 is still served from gen0 (never
    // rewritten): its manifest entry survived the bump
    // time travel: v0 still reproduces bit-identically while un-vacuumed
    assert(VersionedTable.history(spark, root) == Seq(0, restaged))
    val v0Again = VersionedTable.read(spark, root, asOfVersion = Some(0))
      .select($"id", $"day".cast("string").as("day"), $"val").orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(v0Again == v0)
    // vacuum drops nothing reachable from CURRENT; reads identical after,
    // and the retired v0 snapshot now refuses clearly instead of misreading
    VersionedTable.vacuum(spark, root)
    assert(snapshot() == Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "B"),
      (3, "2024-01-03", "c")))
    intercept[java.io.FileNotFoundException] {
      VersionedTable.read(spark, root, asOfVersion = Some(0))
    }
  }

  test("Merge.upsertParquetPruned: non-canonical string partition values round-trip") {
    // '01' infers as int 1 under Hive partition-type inference — a lossy
    // reconstruction made the anti-join miss old rows (duplicate keys) and
    // dynamic overwrite publish a stray day=1 dir; exact-value plumbing
    // must keep both the rows and the directory names intact
    val dir = java.nio.file.Files.createTempDirectory("graft_mcanon").toString
    val path = s"$dir/table"
    Seq((1, "01", "a"), (2, "01", "b"), (3, "2", "c"))
      .toDF("id", "day", "val").write.partitionBy("day").parquet(path)
    Merge.upsertParquetPruned(spark, path,
      Seq((2, "01", "B"), (4, "1.50", "d")).toDF("id", "day", "val"),
      Seq("id", "day"), "day")
    // read back with the DECLARED schema: vanilla partition inference on
    // this table renders day=01 as double 1.0 — the exact lossiness the
    // merge plumbing must not depend on
    val out = spark.read.schema("id INT, val STRING, day STRING").parquet(path)
      .select($"id", $"day", $"val").orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(out == Seq((1, "01", "a"), (2, "01", "B"), (3, "2", "c"),
      (4, "1.50", "d")))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("day=")).sorted.toSeq
    assert(dirs == Seq("day=01", "day=1.50", "day=2")) // no stray day=1
  }

  test("Merge.upsertParquetPruned: composite (symbol, date) partition pruning") {
    // two-level layout symbol=X/date=D — the reference's MERGE key shape;
    // untouched leaf dirs keep byte/mtime identity, touched ones merge
    val dir = java.nio.file.Files.createTempDirectory("graft_mcomp").toString
    val path = s"$dir/table"
    Seq(("AAA", "2024-01-01", 1, "a"), ("AAA", "2024-01-02", 2, "b"),
      ("BBB", "2024-01-01", 3, "c"), ("BBB", "2024-01-02", 4, "d"))
      .toDF("symbol", "date", "id", "val")
      .write.partitionBy("symbol", "date").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileIdentity(rel: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/$rel"))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSeq.sortBy(_._1)
    val untouched = Seq("symbol=AAA/date=2024-01-01", "symbol=BBB/date=2024-01-02")
      .map(r => r -> fileIdentity(r))
    // touch (AAA, 2024-01-02) and a brand-new (CCC, 2024-01-01)
    Merge.upsertParquetPruned(spark, path,
      Seq(("AAA", "2024-01-02", 2, "B"), ("CCC", "2024-01-01", 9, "z"))
        .toDF("symbol", "date", "id", "val"),
      Seq("symbol", "date", "id"), Seq("symbol", "date"))
    val out = spark.read.parquet(path)
      .select($"id", $"symbol", $"date".cast("string").as("date"), $"val")
      .orderBy("id").as[(Int, String, String, String)].collect().toSeq
    assert(out == Seq((1, "AAA", "2024-01-01", "a"), (2, "AAA", "2024-01-02", "B"),
      (3, "BBB", "2024-01-01", "c"), (4, "BBB", "2024-01-02", "d"),
      (9, "CCC", "2024-01-01", "z")))
    untouched.foreach { case (rel, before) =>
      assert(fileIdentity(rel) == before, s"$rel was rewritten") }
  }

  test("VersionedTable: retention vacuum keeps a readable time-travel window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtret").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    def up(rows: (Int, String, String)*): Unit = VersionedTable.upsert(
      spark, root, rows.toDF("id", "day", "val"), keys, "day")
    up((1, "d1", "a"))
    up((1, "d1", "b"))
    up((1, "d1", "c"))
    up((1, "d1", "d")) // versions 0..3
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(VersionedTable.history(spark, root) == Seq(2, 3))
    def valAt(v: Int) = VersionedTable.read(spark, root, Some(v))
      .select($"val").as[String].collect().toSeq
    assert(valAt(2) == Seq("c")) // still readable inside the window
    assert(valAt(3) == Seq("d"))
    intercept[java.io.FileNotFoundException] { // outside the window: clear refusal
      VersionedTable.read(spark, root, Some(1))
    }
    // second writer racing the same version number: exactly one publish wins
    val v = VersionedTable.prepare(spark, root,
      Seq((1, "d1", "e")).toDF("id", "day", "val"), keys, Seq("day"))
    VersionedTable.publish(spark, root, v)
    intercept[Exception] { VersionedTable.publish(spark, root, v) }
  }

  test("readTouchedDirs: ONE scan relation for many touched partitions, exact values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_onescan").toString
    val tbl = s"$dir/tbl"
    // 12 partitions with non-canonical string values inference would mangle
    val vals = (1 to 12).map(i => f"$i%02d")
    vals.zipWithIndex.map { case (d, i) => (i, d, s"row$i") }
      .toDF("id", "day", "val")
      .write.partitionBy("day").parquet(tbl)
    val entries = vals.map(d => (Seq[Any](d): Seq[Any]) -> s"day=$d")
    val got = Merge.readTouchedDirs(spark, tbl, entries, Seq("day"),
      Seq(org.apache.spark.sql.types.StringType), dataSchema = None)
    // exact values survive (day stays the zero-padded string)
    assert(got.select($"day").as[String].collect().sorted.toSeq == vals)
    assert(got.count() == 12)
    // THE scale pin: one FileScan relation regardless of |touched| — the
    // per-dir-union shape planned 12 scans here and thousands at a lake
    val plan = got.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
  }

  test("VersionedTable: crashed FIRST prepare is recoverable via vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtcrash0").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    val good = Seq((1, "d1", "a")).toDF("id", "day", "val")
    // simulate a crash INSIDE the first-ever stage: a column that throws
    // at write time leaves... actually stageVersion retracts on failure;
    // to model a hard CRASH (no cleanup ran) plant the claim manually
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    fs.create(new org.apache.hadoop.fs.Path(root, "_manifest.0"), false).close()
    // wedged: the claim blocks every retry...
    intercept[IllegalStateException] {
      VersionedTable.upsert(spark, root, good, keys, "day")
    }
    // ...and vacuum must clear it EVEN THOUGH nothing is committed yet
    // (the old early-return on empty history left the table wedged forever)
    VersionedTable.vacuum(spark, root)
    VersionedTable.upsert(spark, root, good, keys, "day")
    assert(VersionedTable.read(spark, root).count() == 1)
  }

  test("VersionedTable: failed stage retracts claim AND gen dir, retry clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtfail").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a")).toDF("id", "day", "val"), keys, "day")
    // a stage whose WRITE fails mid-job: assert_true detonates inside the
    // parquet write of gen1, after the committer has created the dir
    val boom = Seq((1, "d1", "x")).toDF("id", "day", "val")
      .withColumn("boom",
        org.apache.spark.sql.functions.assert_true(
          org.apache.spark.sql.functions.lit(false)))
    intercept[Exception] {
      VersionedTable.upsert(spark, root, boom, keys, "day")
    }
    // immediate retry with a good frame must succeed: the failed stage
    // retracted both its manifest claim and the half-written gen1 dir
    // (previously only the claim — the retry then died on
    // 'path already exists' for gen1)
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "b")).toDF("id", "day", "val"), keys, "day")
    assert(VersionedTable.read(spark, root)
      .select($"val").as[String].collect().toSeq == Seq("b"))
  }

  test("upsertParquetPruned: URI-special partition values (space/colon/percent)") {
    // space is stored raw in the dir name; ':' and '%' are Hive-escaped
    // at write ('x%3Ay', '100%25'). The path→value mapping must survive
    // BOTH the raw and the escaped shapes — _metadata.file_path renders
    // the on-disk name with URI encoding, which the read side decodes
    // before joining the lookup.
    val dir = java.nio.file.Files.createTempDirectory("graft_uriparts").toString
    val tbl = s"$dir/tbl"
    // (non-ASCII values are excluded: Spark's OWN partitioned write
    // fails on them in this JVM — sun.jnu.encoding can't map the dir
    // name — so they never reach the read path under test)
    Seq((1, "page view", "a"), (2, "x:y", "b"), (3, "d3", "c"),
      (5, "a+b", "e"))
      .toDF("id", "day", "val")
      .write.partitionBy("day").parquet(tbl)
    Merge.upsertParquetPruned(spark,
      tbl,
      Seq((1, "page view", "A"), (2, "x:y", "B"), (4, "100%", "d"),
        (5, "a+b", "E"))
        .toDF("id", "day", "val"),
      Seq("id", "day"), Seq("day"))
    val got = spark.read.parquet(tbl).select($"id", $"day", $"val")
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "page view", "A"), (2, "x:y", "B"),
      (3, "d3", "c"), (4, "100%", "d"), (5, "a+b", "E")))
  }

  test("partitionDirEntries renders exactly the names a real write creates") {
    // the driver-side rendering (session-TZ string cast +
    // ExternalCatalogUtils.getPartitionPathString) must be byte-identical
    // to what Spark's DynamicPartitionDataWriter puts on disk — asserted
    // against an actual partitionBy write over adversarial typed values:
    // URI specials, Hive-escaped characters, '=', '#', leading zeros,
    // a DATE column (ISO rendering) and a DOUBLE (trailing-zero trim)
    val dir = java.nio.file.Files.createTempDirectory("graft_direntries")
      .toString
    val tbl = s"$dir/tbl"
    val df = Seq(
      (1, "page view", java.sql.Date.valueOf("2024-01-05"), 1.50),
      (2, "x:y", java.sql.Date.valueOf("2024-01-05"), 0.5),
      (3, "100%", java.sql.Date.valueOf("2024-12-31"), 2.0),
      (4, "a=b#c", java.sql.Date.valueOf("2024-12-31"), 2.0),
      (5, "a+b", java.sql.Date.valueOf("2024-02-29"), 100.0),
      (6, "007", java.sql.Date.valueOf("2024-02-29"), 100.0))
      .toDF("id", "ev", "day", "w")
    df.write.partitionBy("ev", "day", "w").parquet(tbl)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tbl), spark.sparkContext.hadoopConfiguration)
    def leaves(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      if (depth == 0) Seq("")
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => leaves(s.getPath, depth - 1)
          .map(rest => if (rest.isEmpty) s.getPath.getName
                       else s"${s.getPath.getName}/$rest"))
    val onDisk = leaves(new org.apache.hadoop.fs.Path(tbl), 3).toSet
    val rendered = Merge.partitionDirEntries(spark, df,
      Seq("ev", "day", "w")).map(_._2).toSet
    assert(rendered == onDisk)
    // and the exact typed values ride along untouched
    val entries = Merge.partitionDirEntries(spark, df, Seq("ev", "day", "w"))
    assert(entries.map(_._1.head.asInstanceOf[String]).toSet ==
      Set("page view", "x:y", "100%", "a=b#c", "a+b", "007"))
  }

  test("VersionedTable file skipping: readWhere scans fewer files, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtskip").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    // 400 rows, 2 partitions, clustered on v with 25-row files ->
    // ~8 skippable files per partition, each covering a tight v range
    val rows = (0 until 400).map(i => (i, s"g${i % 2}", i / 2, s"payload$i"))
    VersionedTable.upsert(spark, root, rows.toDF("id", "grp", "v", "s"),
      keys, Seq("grp"), statsCols = Seq("v"), fileRows = Some(25))
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 40, 59)
    assert(total >= 8, s"expected several files, got $total")
    assert(kept < total / 2, s"skipping did not bite: $kept of $total")
    val pruned = VersionedTable.readWhere(spark, root, "v", 40, 59)
    // the pruning must reach the PHYSICAL scan, not just driver
    // bookkeeping: the plan's file sources list exactly `kept` data files
    val scanned = VersionedTable.physicalInputFiles(pruned)
    assert(scanned == kept, s"plan scans $scanned files, selection kept $kept")
    val got = pruned
      .select($"id", $"grp", $"v", $"s")
      .as[(Int, String, Int, String)].collect().toSet
    val want = VersionedTable.read(spark, root)
      .filter($"v" >= 40 && $"v" <= 59)
      .select($"id", $"grp", $"v", $"s")
      .as[(Int, String, Int, String)].collect().toSet
    assert(got == want && got.size == 40)
    // empty-overlap predicate: zero files scanned, empty frame, schema kept
    val none = VersionedTable.readWhere(spark, root, "v", 10000, 10001)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "grp", "v", "s"))
  }

  test("VersionedTable file skipping: carry-forward, nulls, no-stats columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtskip2").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    def df(rs: Seq[(Int, String, Option[Int])]) =
      rs.toDF("id", "grp", "v")
    // v0: two partitions with stats; g1 holds ONLY nulls for v
    VersionedTable.upsert(spark, root,
      df((0 until 40).map(i => (i, "g0", Some(i))) ++
        (40 until 50).map(i => (i, "g1", None))),
      keys, Seq("grp"), statsCols = Seq("v"), fileRows = Some(20))
    // v1 touches ONLY g1 -> g0's stats must carry forward in v1's manifest
    VersionedTable.upsert(spark, root,
      df(Seq((40, "g1", Some(500)))),
      keys, Seq("grp"), statsCols = Seq("v"))
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 5, 15)
    assert(kept < total, s"carried stats should still skip: $kept/$total")
    val got = VersionedTable.readWhere(spark, root, "v", 5, 15)
      .select($"id").as[Int].collect().toSet
    assert(got == (5 to 15).toSet)
    // all-null files skip for any range; the v=500 row is found despite
    // living in a partition whose v0 files were all-null
    assert(VersionedTable.readWhere(spark, root, "v", 400, 600)
      .select($"id").as[Int].collect().toSeq == Seq(40))
    // a column with NO recorded stats falls back to scan-everything and
    // still filters correctly
    assert(VersionedTable.readWhere(spark, root, "id", 7, 9)
      .select($"id").as[Int].collect().toSet == Set(7, 8, 9))
    // time travel reads v0's own stats (the 500 row doesn't exist yet)
    assert(VersionedTable.readWhere(spark, root, "v", 400, 600,
      asOfVersion = Some(0)).count() == 0)
  }

  test("VersionedTable bloom skipping: point lookup on an unclustered column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtbloom").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    // high-cardinality pseudo-random doc ids, NOT clustered (sort order is
    // v) -> min/max ranges are wide and useless for doc_id equality; the
    // per-file bloom is what skips
    val rows = (0 until 400).map { i =>
      (i, s"g${i % 2}", i / 2, f"doc-${(i * 2654435761L) % 100000}%05d")
    }
    VersionedTable.upsert(spark, root,
      rows.toDF("id", "grp", "v", "doc"), keys, Seq("grp"),
      statsCols = Seq("v"), fileRows = Some(25), bloomCols = Seq("doc"))
    val needle = rows(137)._4
    val (kept, total) = VersionedTable.skipStatsEq(spark, root, "doc", needle)
    assert(total >= 8, s"expected several files, got $total")
    assert(kept <= total / 2, s"bloom skipping did not bite: $kept of $total")
    val got = VersionedTable.readWhereEq(spark, root, "doc", needle)
      .select($"id").as[Int].collect().toSet
    assert(got == rows.filter(_._4 == needle).map(_._1).toSet)
    // a value not in the table: (almost surely) zero files kept, and the
    // result is empty with the schema intact even if a false positive
    // keeps a file
    val miss = VersionedTable.readWhereEq(spark, root, "doc", "doc-xxxxx")
    assert(miss.count() == 0 &&
      miss.columns.toSeq == Seq("id", "grp", "v", "doc"))
    // null lookup: empty by SQL semantics
    assert(VersionedTable.readWhereEq(spark, root, "doc", null).count() == 0)
    // equality via readWhereEq on the CLUSTERED stats column uses min/max
    val viaRange = VersionedTable.readWhereEq(spark, root, "v", 63)
    assert(viaRange.select($"id").as[Int].collect().toSet ==
      rows.filter(_._3 == 63).map(_._1).toSet)
    // blooms carry forward across an upsert touching one partition
    VersionedTable.upsert(spark, root,
      Seq((1000, "g1", 999, "doc-zzzzz")).toDF("id", "grp", "v", "doc"),
      keys, Seq("grp"), statsCols = Seq("v"), bloomCols = Seq("doc"))
    val g0needle = rows.find(r => r._2 == "g0").get._4
    val (kept2, total2) =
      VersionedTable.skipStatsEq(spark, root, "doc", g0needle)
    assert(kept2 < total2, "carried blooms should still skip")
    assert(VersionedTable.readWhereEq(spark, root, "doc", "doc-zzzzz")
      .select($"id").as[Int].collect().toSeq == Seq(1000))
  }

  test("VersionedTable shape reads and DML select the files SQL selects") {
    import graft.plans.VersionedScan
    import org.apache.spark.sql.{Column, DataFrame}
    val dir = java.nio.file.Files.createTempDirectory("graft_vtshape").toString
    // every index kind on one table: stats on v (clustered within each
    // partition: 10 files of 50 rows, 50 v values each), a bloom on the
    // unclustered unique id, and the partition column p
    val rows = (0 until 2000).map { i =>
      ((i * 2654435761L) % 1000003L, s"p${i % 4}", i / 4) }
    def build(root: String): Unit =
      VersionedTable.upsert(spark, root, rows.toDF("id", "p", "v"),
        Seq("id", "p"), Seq("p"), statsCols = Seq("v"), fileRows = Some(50),
        bloomCols = Seq("id"))
    val root = s"$dir/a"
    build(root)
    def files(df: DataFrame): Int = VersionedTable.physicalInputFiles(df)
    def viaSql(r: String, pred: Column): DataFrame =
      VersionedScan.table(spark, r).filter(pred)
    def rowsOf(df: DataFrame): Set[org.apache.spark.sql.Row] =
      df.select("id", "p", "v").collect().toSet
    val total = files(VersionedTable.read(spark, root))
    assert(total == 40)
    def same(shape: DataFrame, pred: Column, expect: Int): Unit = {
      val sql = viaSql(root, pred)
      assert(files(shape) == files(sql), s"shape vs SQL files for $pred")
      assert(files(shape) == expect, s"files kept for $pred")
      assert(rowsOf(shape) == rowsOf(sql))
    }
    // a data-column range: one file per partition
    val range = VersionedTable.readWhere(spark, root, "v", 100, 149)
    same(range, col("v") >= 100 && col("v") <= 149, 4)
    assert(range.count() == 200)
    assert(VersionedTable.skipStats(spark, root, "v", 100, 149) == ((4, total)))
    // an equality on the bloom column: the needle's file alone
    val needle = rows(137)._1
    val eq = VersionedTable.readWhereEq(spark, root, "id", needle)
    same(eq, col("id") === needle, 1)
    assert(VersionedTable.skipStatsEq(spark, root, "id", needle) ==
      ((1, total)))
    // a partition-column range prunes dirs by their values
    val part = VersionedTable.readWhere(spark, root, "p", "p1", "p2")
    same(part, col("p") >= "p1" && col("p") <= "p2", 20)
    assert(part.count() == 1000)
    // a 2,000-value id list with two hits: the blooms rule out most
    // files (a bloom false positive keeps a file, in SQL and DML alike),
    // and the shape DML rewrites exactly the dirs of the files SQL scans
    val real = rows.map(_._1).toSet
    val hits = Seq(rows(1)._1, rows(1001)._1)
    val list = hits ++ Iterator.from(0).map(k => (k * 7919L) % 1000003L)
      .filterNot(real).take(1998).toSeq
    val in = viaSql(root, col("id").isin(list: _*))
    assert(files(in) >= 2 && files(in) < total / 4)
    val inDirs = in.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    assert(inDirs.contains("p=p1"))
    def remapped(r: String): Set[String] =
      VersionedTable.resolveManifest(spark, r, None).mapping
        .collect { case (rel, gen) if gen != "gen0" => rel }.toSet
    val other = s"$dir/b"
    build(other)
    VersionedTable.deleteWhereIn(spark, root, "id", list)
    VersionedTable.deleteMatching(spark, other, col("id").isin(list: _*))
    assert(remapped(root) == inDirs)
    assert(remapped(other) == remapped(root))
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      rowsOf(VersionedTable.read(spark, other)))
    assert(VersionedTable.read(spark, root).count() == 1998)
  }

  test("VersionedTable.deleteWhere: index-targeted rewrite, untouched dirs intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtdel").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    // grp partitions g0..g3; v clustered per partition with ranges that
    // OVERLAP the delete window only for g1/g2 — g0 and g3 must not be
    // read or rewritten
    val rows = (0 until 400).map { i =>
      val g = i / 100
      (i, s"g$g", g * 50 + (i % 100) / 4, if (i % 97 == 0) None else Some(i))
    }
    VersionedTable.upsert(spark, root,
      rows.toDF("id", "grp", "v", "opt"), keys, Seq("grp"),
      statsCols = Seq("v"), fileRows = Some(25))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    def fileIds(rel: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/gen0/$rel")).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val g0Before = fileIds("grp=g0")
    // delete v in [60, 110]: hits g1 (50..74) and g2 (100..124) only
    val v1 = VersionedTable.deleteWhere(spark, root, "v", 60, 110)
    assert(v1 == 1)
    val after = VersionedTable.read(spark, root)
      .select($"id", $"v").as[(Int, Int)].collect().toMap
    val expect = rows.filter(r => r._3 < 60 || r._3 > 110)
      .map(r => r._1 -> r._3).toMap
    assert(after == expect)
    // untouched partition g0's generation files are byte-identical
    assert(fileIds("grp=g0") == g0Before)
    // time travel still sees the deleted rows until vacuum
    assert(VersionedTable.read(spark, root, Some(0)).count() == 400)
    // rewritten dirs keep index coverage: skipping still works post-delete
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 0, 10)
    assert(kept < total, s"post-delete stats missing: $kept/$total")
    // a delete whose range no file can hold is a provable no-op: no new
    // version committed
    assert(VersionedTable.deleteWhere(spark, root, "v", 5000, 6000) == 1)
    // NULL v rows survive any delete
    assert(VersionedTable.read(spark, root)
      .filter($"v".isNull).count() == 0) // v is non-null in this fixture
    val optNulls = VersionedTable.read(spark, root)
      .filter($"opt".isNull).count()
    VersionedTable.deleteWhere(spark, root, "opt", 0, 1000000)
    assert(VersionedTable.read(spark, root)
      .filter($"opt".isNull).count() == optNulls)
    assert(VersionedTable.read(spark, root)
      .filter($"opt".isNotNull).count() == 0)
  }

  test("VersionedTable z-box query: decomposed intervals skip, one range doesn't") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtzbox").toString
    val root = s"$dir/table"
    // points on a 64x64 grid (6-bit z space), z-clustered into small files
    val pts = for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x * 64 + y, x, y)
    val z6 = (x: Long, y: Long) => {
      var r = 0L
      for (i <- 0 until 6) {
        r |= ((x >> i) & 1L) << (2 * i); r |= ((y >> i) & 1L) << (2 * i + 1)
      }
      r
    }
    val df = pts.toDF("id", "x", "y")
      .withColumn("grp", lit("all"))
      .withColumn("zval", graft.ops.ZOrder.zValueN(Seq($"x", $"y"), bits = 6))
    VersionedTable.upsert(spark, root, df, Seq("id", "grp"), Seq("grp"),
      statsCols = Seq("zval"), fileRows = Some(256))
    // a box straddling the grid's center: its single covering z-range
    // spans nearly the whole space (prunes ~nothing), the decomposition
    // prunes hard
    val (xlo, xhi, ylo, yhi) = (28L, 36L, 30L, 34L)
    val intervals = graft.ops.ZOrder.zIntervalsForBox(xlo, xhi, ylo, yhi,
      bits = 6, maxIntervals = 32)
    val wide = Seq((intervals.head._1, intervals.last._2))
    val (kWide, tot) = VersionedTable.skipStats(spark, root, "zval",
      wide.head._1, wide.head._2)
    val kDecomp = intervals.map { case (lo, hi) =>
      VersionedTable.skipStats(spark, root, "zval", lo, hi)._1 }.max
    assert(tot >= 8, s"expected several files, got $tot")
    assert(kWide > tot / 2,
      s"fixture broken: the wide range should NOT prune ($kWide/$tot)")
    assert(kDecomp < kWide,
      s"decomposition should prune harder than one wide range " +
        s"($kDecomp vs $kWide of $tot)")
    val got = VersionedTable.readWhereIn(spark, root, "zval",
        intervals.map { case (a, b) => (a: Any, b: Any) })
      .filter($"x".between(xlo, xhi) && $"y".between(ylo, yhi))
      .select($"id").as[Long].collect().toSet
    val want = pts.filter(p => p._2 >= xlo && p._2 <= xhi &&
      p._3 >= ylo && p._3 <= yhi).map(_._1).toSet
    assert(got == want)
    // z-interval membership is EXACT at full budget: even without the
    // residual x/y filter the decomposed read returns exactly the box
    val intervalsExact = graft.ops.ZOrder.zIntervalsForBox(xlo, xhi, ylo,
      yhi, bits = 6, maxIntervals = Int.MaxValue)
    val noResidual = VersionedTable.readWhereIn(spark, root, "zval",
        intervalsExact.map { case (a, b) => (a: Any, b: Any) })
      .select($"id").as[Long].collect().toSet
    assert(noResidual == want)
    // and every box z-value round-trips through the engine-side zValueN
    val zCheck = pts.filter(p => want.contains(p._1))
      .map(p => z6(p._2, p._3)).toSet
    assert(intervalsExact.flatMap(i => i._1 to i._2).toSet == zCheck)
  }

  test("VersionedTable: stats without a verifiable type tag never prune") {
    // the type tag is what makes carried stats safe under schema
    // evolution (Date->Timestamp re-renders epoch-days as epoch-µs);
    // simulate a mismatched tag by editing the committed index block —
    // the reader must treat those stats as unusable (scan everything,
    // exact results) rather than mis-skip
    val dir = java.nio.file.Files.createTempDirectory("graft_vttag").toString
    val root = s"$dir/table"
    VersionedTable.upsert(spark, root,
      (0 until 100).map(i => (i, "g0", i)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"), statsCols = Seq("v"),
      fileRows = Some(20))
    val (k0, t0) = VersionedTable.skipStats(spark, root, "v", 0, 10)
    assert(t0 >= 4 && k0 < t0, s"fixture should skip: $k0/$t0")
    // the stats live in the _idx.0 sidecar's one per-dir block (a single
    // partition): re-tag every #filestat line as `long` although `v` is
    // an integer column, then point the manifest's #diridx slice at the
    // block's new length
    def b64(x: String) = java.util.Base64.getEncoder
      .encodeToString(x.getBytes("UTF-8"))
    val mf = java.nio.file.Paths.get(root, "_manifest.0")
    val idxF = java.nio.file.Paths.get(root, "_idx.0")
    val block = new String(java.nio.file.Files.readAllBytes(idxF), "UTF-8")
      .split("\n").map { l =>
        if (!l.startsWith("#filestat\t")) l
        else {
          val parts = l.split("\t", -1)
          assert(parts(6) == b64("\"integer\""), l)
          parts.updated(6, b64("\"long\"")).mkString("\t")
        }
      }.mkString("", "\n", "\n").getBytes("UTF-8")
    java.nio.file.Files.write(idxF, block)
    val manifest = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .split("\n").map { l =>
        if (!l.startsWith("#diridx\t")) l
        else {
          val parts = l.split("\t", -1)
          assert(parts(3) == "0", s"one block expected: $l")
          parts.updated(4, block.length.toString).mkString("\t")
        }
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mf, manifest.getBytes("UTF-8"))
    // drop the local-FS checksum sidecars invalidated by the raw rewrites
    Seq("._manifest.0.crc", "._idx.0.crc").foreach(n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, n)))
    val (k1, t1) = VersionedTable.skipStats(spark, root, "v", 0, 10)
    assert((k1, t1) == (0, 0), s"mis-tagged stats must not be indexed: $k1/$t1")
    assert(VersionedTable.readWhere(spark, root, "v", 0, 10)
      .select($"id").as[Int].collect().toSet == (0 to 10).toSet)
  }

  test("VersionedTable: empty update set with statsCols commits cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtempty").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    VersionedTable.upsert(spark, root,
      Seq((1, "g0", 10)).toDF("id", "grp", "v"), keys, Seq("grp"),
      statsCols = Seq("v"), bloomCols = Seq("v"))
    // a scheduled merge on a day with zero updates must still commit
    VersionedTable.upsert(spark, root,
      Seq.empty[(Int, String, Int)].toDF("id", "grp", "v"), keys,
      Seq("grp"), statsCols = Seq("v"), bloomCols = Seq("v"))
    assert(VersionedTable.currentVersion(spark, root).contains(1))
    assert(VersionedTable.read(spark, root).count() == 1)
    // carried stats still prune after the no-op version
    assert(VersionedTable.readWhereEq(spark, root, "v", 10).count() == 1)
  }

  test("Merge.existingDirs answers nested existence with listings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_exdirs").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    for (p <- Seq("a=1/b=1", "a=1/b=2", "a=2/b=1"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/tbl/$p"))
    val got = Merge.existingDirs(fs,
      new org.apache.hadoop.fs.Path(s"$dir/tbl"),
      Seq("a=1/b=1", "a=1/b=9", "a=2/b=1", "a=3/b=1", "a=1"))
    assert(got == Set("a=1/b=1", "a=2/b=1", "a=1"))
    // missing base: nothing exists, no throw
    assert(Merge.existingDirs(fs,
      new org.apache.hadoop.fs.Path(s"$dir/absent"), Seq("a=1")) == Set())
  }

  test("VersionedTable.syncChanges: initial load, incremental diffs, crash redelivery") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtsync").toString
    val root = s"$dir/table"
    val cursor = s"$dir/cursor"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d1", "b")).toDF("id", "day", "v"),
      keys, "day")
    var seen = Vector.empty[Set[(String, Int, String)]]
    def sync() = VersionedTable.syncChanges(spark, root, keys, cursor) { df =>
      seen :+= df.select($"op", $"id", $"v")
        .as[(String, Int, String)].collect().toSet
    }
    // initial load: whole table as inserts
    assert(sync().contains((-1, 0)))
    assert(seen.last == Set(("insert", 1, "a"), ("insert", 2, "b")))
    // already current: no-op, apply not called
    assert(sync().isEmpty && seen.size == 1)
    // v1: change one row, add one
    VersionedTable.upsert(spark, root,
      Seq((2, "d1", "B"), (3, "d1", "c")).toDF("id", "day", "v"), keys, "day")
    assert(sync().contains((0, 1)))
    assert(seen.last == Set(("update", 2, "B"), ("insert", 3, "c")))
    // crash between apply and cursor write -> the SAME transition
    // re-delivers next call (at-least-once)
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "A")).toDF("id", "day", "v"), keys, "day")
    intercept[RuntimeException] {
      VersionedTable.syncChanges(spark, root, keys, cursor) { _ =>
        throw new RuntimeException("apply crashed") }
    }
    assert(sync().contains((1, 2)))
    assert(seen.last == Set(("update", 1, "A")))
    // bounded catch-up: three more commits, maxVersions=1 drains them
    // one transition per call with the cursor advancing stepwise
    Seq("x", "y", "z").zipWithIndex.foreach { case (v, i) =>
      VersionedTable.upsert(spark, root,
        Seq((10 + i, "d1", v)).toDF("id", "day", "v"), keys, "day")
    }
    def sync1() = VersionedTable.syncChanges(spark, root, keys, cursor,
      maxVersions = 1) { df =>
      seen :+= df.select($"op", $"id", $"v")
        .as[(String, Int, String)].collect().toSet
    }
    assert(sync1().contains((2, 3)))
    assert(seen.last == Set(("insert", 10, "x")))
    assert(sync1().contains((3, 4)))
    assert(seen.last == Set(("insert", 11, "y")))
    assert(sync1().contains((4, 5)))
    assert(seen.last == Set(("insert", 12, "z")))
    assert(sync1().isEmpty) // drained
  }

  test("MultiSync: version-vector snapshot reads never mix versions; " +
      "a crash between two table syncs never serves a mixed snapshot") {
    import graft.ops.MultiSync
    val dir = java.nio.file.Files.createTempDirectory("graft_msync").toString
    val (t1, t2) = (s"$dir/t1", s"$dir/t2")
    val cursor = s"$dir/cursor"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, t1,
      Seq((1, "d1", "a1")).toDF("id", "day", "v"), keys, "day")
    VersionedTable.upsert(spark, t2,
      Seq((1, "d1", "b1")).toDF("id", "day", "v"), keys, "day")
    // --- snapshot: a captured vector outlives later commits ---
    val snap = MultiSync.snapshot(spark, Seq(t1, t2))
    assert(snap.versions.toSet == Set((t1, 0), (t2, 0)))
    VersionedTable.upsert(spark, t1,
      Seq((2, "d1", "a2")).toDF("id", "day", "v"), keys, "day")
    VersionedTable.upsert(spark, t2,
      Seq((2, "d1", "b2")).toDF("id", "day", "v"), keys, "day")
    assert(snap.read(spark, t1).count() == 1 &&
      snap.read(spark, t2).count() == 1)
    assert(MultiSync.snapshot(spark, Seq(t1, t2)).versions.toSet ==
      Set((t1, 1), (t2, 1)))
    // SQL surface: the vector as rows
    val sqlVec = spark.sql(
      s"SELECT root, version FROM graft_snapshot('$t1', '$t2')")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(sqlVec == Set((t1, 1), (t2, 1)), sqlVec.toString)
    // --- multi-table sync: atomic vector cursor ---
    var applied = Vector.empty[Map[String, Set[(String, Int, String)]]]
    def sync() = MultiSync.syncChangesMulti(spark,
        Seq((t1, keys), (t2, keys)), cursor) { feeds =>
      applied :+= feeds.map { case (r, df) =>
        r -> df.select($"op", $"id", $"v")
          .as[(String, Int, String)].collect().toSet }
    }
    // first cycle: both initial loads, one cursor
    assert(sync() == Some(Map(t1 -> ((-1, 1)), t2 -> ((-1, 1)))))
    assert(applied.last(t1) ==
      Set(("insert", 1, "a1"), ("insert", 2, "a2")))
    assert(applied.last(t2) ==
      Set(("insert", 1, "b1"), ("insert", 2, "b2")))
    assert(sync().isEmpty)
    // both tables move; the consumer CRASHES after consuming t1's feed
    // but before t2's — the cursor must not advance for EITHER table
    VersionedTable.upsert(spark, t1,
      Seq((3, "d1", "a3")).toDF("id", "day", "v"), keys, "day")
    VersionedTable.upsert(spark, t2,
      Seq((3, "d1", "b3")).toDF("id", "day", "v"), keys, "day")
    var firstHalf: Set[(String, Int, String)] = Set.empty
    intercept[RuntimeException] {
      MultiSync.syncChangesMulti(spark, Seq((t1, keys), (t2, keys)),
          cursor) { feeds =>
        firstHalf = feeds(t1).select($"op", $"id", $"v")
          .as[(String, Int, String)].collect().toSet // t1 consumed...
        throw new RuntimeException("crash between the two table syncs")
      }
    }
    assert(firstHalf == Set(("insert", 3, "a3")))
    // the retry replays BOTH tables from the SAME bases — never a
    // state where t1 advanced and t2 did not
    assert(sync() == Some(Map(t1 -> ((1, 2)), t2 -> ((1, 2)))))
    assert(applied.last(t1) == Set(("insert", 3, "a3")))
    assert(applied.last(t2) == Set(("insert", 3, "b3")))
    assert(sync().isEmpty)
    // one table moves alone: the other's feed is present and EMPTY,
    // and its cursor entry stays put
    VersionedTable.upsert(spark, t2,
      Seq((4, "d1", "b4")).toDF("id", "day", "v"), keys, "day")
    assert(sync() == Some(Map(t2 -> ((2, 3)))))
    assert(applied.last(t1).isEmpty &&
      applied.last(t2) == Set(("insert", 4, "b4")))
    // a cursor reused for a DIFFERENT table set refuses loudly
    val drift = intercept[IllegalArgumentException](
      MultiSync.syncChangesMulti(spark, Seq((t1, keys)), cursor)(_ => ()))
    assert(drift.getMessage.contains("table set"), drift.getMessage)
    // bounded catch-up per table: two commits drain one per cycle
    VersionedTable.upsert(spark, t1,
      Seq((5, "d1", "a5")).toDF("id", "day", "v"), keys, "day")
    VersionedTable.upsert(spark, t1,
      Seq((6, "d1", "a6")).toDF("id", "day", "v"), keys, "day")
    def sync1() = MultiSync.syncChangesMulti(spark,
        Seq((t1, keys), (t2, keys)), cursor, maxVersions = 1) { feeds =>
      applied :+= feeds.map { case (r, df) =>
        r -> df.select($"op", $"id", $"v")
          .as[(String, Int, String)].collect().toSet }
    }
    assert(sync1() == Some(Map(t1 -> ((2, 3)))))
    assert(applied.last(t1) == Set(("insert", 5, "a5")))
    assert(sync1() == Some(Map(t1 -> ((3, 4)))))
    assert(applied.last(t1) == Set(("insert", 6, "a6")))
    assert(sync1().isEmpty)
  }

  test("MultiSync: a torn first-cycle .tmp is deleted, not promoted — " +
      "the cycle replays instead of wedging the consumer") {
    import graft.ops.MultiSync
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_torn").toString
    val (t1, cursor) = (s"$dir/t1", s"$dir/cursor")
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, t1,
      Seq((1, "d1", "a1")).toDF("id", "day", "v"), keys, Seq("day"))
    // simulate a crash mid-write on the very FIRST cycle: a partial
    // .tmp exists, no cursor file
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(cursor + ".tmp"))
    out.write("#graft-synccursor\t1\ngarbage-trunc".getBytes)
    out.close()
    var rows: Set[(String, Int)] = Set.empty
    val adv = MultiSync.syncChangesMulti(spark, Seq((t1, keys)), cursor) {
      feeds => rows = feeds(t1).select($"op", $"id")
        .as[(String, Int)].collect().toSet
    }
    assert(adv == Some(Map(t1 -> ((-1, 0)))),
      s"torn tmp must be dropped and the first cycle replayed: $adv")
    assert(rows == Set(("insert", 1)))
  }

  test("MultiSync: a .tmp truncated exactly at a line boundary parses " +
      "as a SHORTER valid vector — still torn, deleted not promoted") {
    import graft.ops.MultiSync
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_torn2").toString
    val (t1, t2, cursor) = (s"$dir/t1", s"$dir/t2", s"$dir/cursor")
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, t1,
      Seq((1, "d1", "a1")).toDF("id", "day", "v"), keys, Seq("day"))
    VersionedTable.upsert(spark, t2,
      Seq((2, "d1", "b1")).toDF("id", "day", "v"), keys, Seq("day"))
    // a first-cycle crash that truncated AFTER t1's complete line: the
    // prefix parses as a valid one-table vector — promoting it would
    // wedge every later 2-table call on the table-set-drift check
    val b64t1 = java.util.Base64.getEncoder
      .encodeToString(t1.getBytes("UTF-8"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(cursor + ".tmp"))
    out.write(s"#graft-synccursor\t1\n$b64t1\t0\n".getBytes("UTF-8"))
    out.close()
    var rows: Map[String, Set[(String, Int)]] = Map.empty
    val adv = MultiSync.syncChangesMulti(spark,
      Seq((t1, keys), (t2, keys)), cursor) { feeds =>
      rows = feeds.map { case (r, df) => r -> df.select($"op", $"id")
        .as[(String, Int)].collect().toSet }
    }
    assert(adv == Some(Map(t1 -> ((-1, 0)), t2 -> ((-1, 0)))),
      s"line-boundary torn tmp must be dropped, cycle replayed: $adv")
    assert(rows(t1) == Set(("insert", 1)) &&
      rows(t2) == Set(("insert", 2)), rows.toString)
  }

  test("MultiSync.upsertAtomic: a crash at ANY injection point never " +
      "ends with a mixed committed pair — pre-decision rolls back, " +
      "post-decision rolls forward") {
    import graft.ops.MultiSync
    import graft.ops.MultiSync.TableWrite
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_atomic").toString
    val (a, b, marker) = (s"$dir/a", s"$dir/b", s"$dir/txn")
    val keys = Seq("id", "g")
    def w(v: Long) = Seq(
      TableWrite(a, Seq((1, "g0", v)).toDF("id", "g", "v"), keys,
        Seq("g")),
      TableWrite(b, Seq((2, "g0", v * 10)).toDF("id", "g", "v"), keys,
        Seq("g")))
    def vals(): (Long, Long) = (
      VersionedTable.read(spark, a).select("v").as[Long].head(),
      VersionedTable.read(spark, b).select("v").as[Long].head())
    def pairOk(): Unit = {
      val (va, vb) = vals()
      assert(vb == va * 10, s"MIXED committed pair: a=$va b=$vb")
    }
    // the live-intent grace (default 30 s) would make these
    // crash-then-recover-immediately sequences conflict loudly; the
    // test IS the crashed case, so collapse the grace
    spark.conf.set("spark.graft.txn.intentGraceMs", "0")
    def crashAt(point: String, value: Long): Unit = {
      MultiSync.crashHook = p =>
        if (p == point) throw new MultiSync.SimulatedCrash(s"boom@$p")
      try {
        val e = intercept[IllegalStateException](
          MultiSync.upsertAtomic(spark, w(value), marker))
        assert(e.getMessage.startsWith("boom@"), e.getMessage)
      } finally MultiSync.crashHook = _ => ()
    }
    assert(MultiSync.upsertAtomic(spark, w(1), marker) ==
      Map(a -> 0, b -> 0))
    assert(vals() == ((1L, 10L)))
    // crash after A staged, B not (pre-decision): committed pair
    // untouched; recovery ROLLS BACK A's stage so the retry stages clean
    crashAt(s"staged:$a", 2)
    pairOk(); assert(vals() == ((1L, 10L)))
    MultiSync.recoverAtomic(spark, marker)
    assert(MultiSync.upsertAtomic(spark, w(2), marker) ==
      Map(a -> 1, b -> 1))
    assert(vals() == ((2L, 20L)))
    // crash right after the decision marker (nothing published):
    // recovery ROLLS FORWARD both members
    crashAt(s"decision:$marker", 3)
    MultiSync.recoverAtomic(spark, marker)
    pairOk(); assert(vals() == ((3L, 30L)))
    // crash BETWEEN the two publishes — the reference DAG's exact
    // mixed-pair window: the skew is transient, recovery completes B,
    // and the pair lands whole
    crashAt(s"published:$a", 4)
    MultiSync.recoverAtomic(spark, marker)
    pairOk(); assert(vals() == ((4L, 40L)))
    // the NEXT cycle recovers automatically (no explicit recover call):
    // a decision-point crash at 5 rolls forward inside cycle 6
    crashAt(s"decision:$marker", 5)
    assert(MultiSync.upsertAtomic(spark, w(6), marker) ==
      Map(a -> 5, b -> 5))
    pairOk(); assert(vals() == ((6L, 60L)))
    // and a pre-decision crash at 7 rolls back inside cycle 8
    crashAt(s"staged:$b", 7)
    assert(MultiSync.upsertAtomic(spark, w(8), marker) ==
      Map(a -> 6, b -> 6))
    pairOk(); assert(vals() == ((8L, 80L)))
    // with the grace RESTORED, a fresh crashed intent conflicts loudly
    // instead of being rolled back (a live concurrent group must never
    // have its stages retracted mid-flight)
    spark.conf.set("spark.graft.txn.intentGraceMs", "60000")
    crashAt(s"staged:$a", 9)
    val conflict = intercept[
      graft.ops.VersionedTable.ConcurrentWriteConflictException](
      MultiSync.upsertAtomic(spark, w(9), marker))
    assert(conflict.getMessage.contains("grace"), conflict.getMessage)
    spark.conf.set("spark.graft.txn.intentGraceMs", "0")
    assert(MultiSync.upsertAtomic(spark, w(10), marker) ==
      Map(a -> 7, b -> 7))
    pairOk(); assert(vals() == ((10L, 100L)))
    spark.conf.unset("spark.graft.txn.intentGraceMs")
  }

  test("MultiSync.upsertAtomic: a peer that rolls a LIVE publisher " +
      "forward and starts its own cycle never has its markers deleted " +
      "by the live writer's trailing cleanup (owner-guarded markers)") {
    import graft.ops.MultiSync
    import graft.ops.MultiSync.TableWrite
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_guard").toString
    val (a, b, marker) = (s"$dir/a", s"$dir/b", s"$dir/txn")
    val keys = Seq("id", "g")
    def w(v: Long) = Seq(
      TableWrite(a, Seq((1, "g0", v)).toDF("id", "g", "v"), keys,
        Seq("g")),
      TableWrite(b, Seq((2, "g0", v * 10)).toDF("id", "g", "v"), keys,
        Seq("g")))
    def vals(): (Long, Long) = (
      VersionedTable.read(spark, a).select("v").as[Long].head(),
      VersionedTable.read(spark, b).select("v").as[Long].head())
    spark.conf.set("spark.graft.txn.intentGraceMs", "0")
    assert(MultiSync.upsertAtomic(spark, w(1), marker) ==
      Map(a -> 0, b -> 0))
    // writer A publishes member a, then STALLS inside its publish loop;
    // peer B (grace collapsed) treats it as crashed: rolls it forward,
    // deletes its markers, runs a full successor cycle that itself
    // crashes mid-publish. The round-10 protocol let A's trailing
    // UNGUARDED deletes remove B's decision marker — recovery then
    // found nothing and B's pair landed durably mixed. Owner-guarded
    // deletes make A's cleanup a no-op on B's markers.
    var fired = false
    MultiSync.crashHook = p =>
      if (p == s"published:$a" && !fired) {
        fired = true
        val outer = MultiSync.crashHook
        MultiSync.crashHook = q =>
          if (q == s"published:$a")
            throw new MultiSync.SimulatedCrash(s"boom@$q")
        try {
          MultiSync.recoverAtomic(spark, marker) // rolls live A forward
          val e = intercept[IllegalStateException](
            MultiSync.upsertAtomic(spark, w(3), marker))
          assert(e.getMessage.startsWith("boom@"), e.getMessage)
        } finally MultiSync.crashHook = outer
      }
    try assert(MultiSync.upsertAtomic(spark, w(2), marker) ==
      Map(a -> 1, b -> 1)) // A's txn DID commit (B rolled it forward)
    finally MultiSync.crashHook = _ => ()
    // B's decision marker must have survived A's trailing cleanup
    val fs = VersionedTable.fsFor(spark, marker)
    assert(fs.exists(new org.apache.hadoop.fs.Path(marker)),
      "the live writer's cleanup deleted the successor's decision")
    MultiSync.recoverAtomic(spark, marker)
    val (va, vb) = vals()
    assert(va == 3 && vb == 30, s"successor group stranded: a=$va b=$vb")
    spark.conf.unset("spark.graft.txn.intentGraceMs")
  }

  test("MultiSync.recoverAtomic: rollback retracts ONLY the crashed " +
      "group's RECORDED stages — a concurrent plain writer's stage at " +
      "the same version number survives") {
    import graft.ops.MultiSync
    import graft.ops.MultiSync.TableWrite
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_live").toString
    val (a, b, marker) = (s"$dir/a", s"$dir/b", s"$dir/txn")
    val keys = Seq("id", "g")
    def w(v: Long) = Seq(
      TableWrite(a, Seq((1, "g0", v)).toDF("id", "g", "v"), keys,
        Seq("g")),
      TableWrite(b, Seq((2, "g0", v * 10)).toDF("id", "g", "v"), keys,
        Seq("g")))
    spark.conf.set("spark.graft.txn.intentGraceMs", "0")
    assert(MultiSync.upsertAtomic(spark, w(1), marker) ==
      Map(a -> 0, b -> 0))
    // crash after member a staged (and recorded): b never staged by
    // the group
    MultiSync.crashHook = p =>
      if (p == s"staged:$a") throw new MultiSync.SimulatedCrash("boom")
    try intercept[IllegalStateException](
      MultiSync.upsertAtomic(spark, w(2), marker))
    finally MultiSync.crashHook = _ => ()
    // an UNRELATED plain writer stages b's next version mid-flight —
    // exactly what the group's crashed cycle would have staged next
    val vb = VersionedTable.prepare(spark, b,
      Seq((9, "g0", 99L)).toDF("id", "g", "v"), keys, Seq("g"))
    assert(vb == 1)
    MultiSync.recoverAtomic(spark, marker)
    // the group's recorded a@1 retracts; the plain writer's b@1 — which
    // the round-10 rollback would have attributed to the group — stays
    assert(!VersionedTable.isStaged(spark, a, 1),
      "the crashed group's recorded stage must retract")
    assert(VersionedTable.isStaged(spark, b, 1),
      "a live plain writer's stage was mis-retracted by rollback")
    VersionedTable.publish(spark, b, 1)
    assert(VersionedTable.read(spark, b)
      .where($"id" === 9).count() == 1L)
    spark.conf.unset("spark.graft.txn.intentGraceMs")
  }

  test("MultiSync.recoverAtomic rollback: a SUCCESSOR group's sidecar " +
      "and stage survive a stale group's owner-guarded rollback") {
    import graft.ops.{MultiSync, SpecFile}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_succ").toString
    val (a, b, marker) = (s"$dir/a", s"$dir/b", s"$dir/txn")
    val keys = Seq("id", "g")
    VersionedTable.upsert(spark, a,
      Seq((1, "g0", 1L)).toDF("id", "g", "v"), keys, Seq("g"))
    VersionedTable.upsert(spark, b,
      Seq((2, "g0", 10L)).toDF("id", "g", "v"), keys, Seq("g"))
    // hand-build the crash state the advice interleaving produces: an
    // AGED intent owned by crashed group X with X's recorded stage of
    // a@1, PLUS a successor group Y's live sidecar recording b@1 (Y
    // re-claimed after a racing recovery already finished X once —
    // from this recoverer's point of view both sidecars sit under one
    // marker path, but only X's may roll back)
    val fs = VersionedTable.fsFor(spark, marker)
    def put(p: String, txt: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
    }
    val va = VersionedTable.prepare(spark, a,
      Seq((1, "g0", 2L)).toDF("id", "g", "v"), keys, Seq("g"))
    val vb = VersionedTable.prepare(spark, b,
      Seq((2, "g0", 20L)).toDF("id", "g", "v"), keys, Seq("g"))
    assert(va == 1 && vb == 1)
    put(s"$marker.intent",
      s"#graft-txnintent\t2\tX-owner\n${SpecFile.b64e(a)}\n" +
        s"${SpecFile.b64e(b)}\n")
    put(s"$marker.staged.0",
      s"#graft-txnstaged\t1\tX-owner\n${SpecFile.b64e(a)}\t$va\n")
    put(s"$marker.staged.1",
      s"#graft-txnstaged\t1\tY-owner\n${SpecFile.b64e(b)}\t$vb\n")
    spark.conf.set("spark.graft.txn.intentGraceMs", "0")
    try MultiSync.recoverAtomic(spark, marker)
    finally spark.conf.unset("spark.graft.txn.intentGraceMs")
    // X's recorded stage rolled back, its sidecar gone
    assert(!VersionedTable.isStaged(spark, a, va),
      "the aged group's recorded stage must retract")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$marker.staged.0")))
    // Y's sidecar and stage MUST survive (pre-fix both were deleted,
    // leaving Y's stage an orphaned claim its own recovery can't see)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$marker.staged.1")),
      "successor sidecar deleted by a foreign rollback")
    assert(VersionedTable.isStaged(spark, b, vb),
      "successor stage retracted by a foreign rollback")
    // cleanup so later suites aren't confused by the staged leftovers
    VersionedTable.retractStaged(spark, b, vb)
    fs.delete(new org.apache.hadoop.fs.Path(s"$marker.staged.1"), false)
  }

  test("MultiSync.upsertAtomic: the intent grace renews via heartbeat " +
      "while a member stages longer than the grace window") {
    import graft.ops.MultiSync
    import graft.ops.MultiSync.TableWrite
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_hb").toString
    val (a, b, marker) = (s"$dir/a", s"$dir/b", s"$dir/txn")
    val keys = Seq("id", "g")
    def w(v: Long) = Seq(
      TableWrite(a, Seq((1, "g0", v)).toDF("id", "g", "v"), keys,
        Seq("g")),
      TableWrite(b, Seq((2, "g0", v * 10)).toDF("id", "g", "v"), keys,
        Seq("g")))
    assert(MultiSync.upsertAtomic(spark, w(1), marker) ==
      Map(a -> 0, b -> 0))
    // grace 2s, heartbeat every max(grace/3, 1s) = 1s; member a's
    // staging "runs" 5s (a slow large write) via a sleeping hook.
    // Without the heartbeat the intent ages past grace mid-stage and a
    // concurrent recovery ROLLS BACK the live group's recorded stage.
    spark.conf.set("spark.graft.txn.intentGraceMs", "2000")
    val slept = new java.util.concurrent.atomic.AtomicBoolean(false)
    MultiSync.crashHook = p =>
      if (p == s"staged:$a" && slept.compareAndSet(false, true))
        Thread.sleep(5000)
    val fut = scala.concurrent.Future(
      MultiSync.upsertAtomic(spark, w(2), marker))(
      scala.concurrent.ExecutionContext.global)
    try {
      // probe mid-sleep: the intent must still be inside its grace —
      // recovery refuses loudly instead of rolling the live group back
      Thread.sleep(3500)
      intercept[VersionedTable.ConcurrentWriteConflictException](
        MultiSync.recoverAtomic(spark, marker))
      val got = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(60, "s"))
      assert(got == Map(a -> 1, b -> 1), s"live group broken: $got")
    } finally {
      MultiSync.crashHook = _ => ()
      spark.conf.unset("spark.graft.txn.intentGraceMs")
    }
    assert(VersionedTable.read(spark, a).select("v").as[Long].head() == 2L)
    assert(VersionedTable.read(spark, b).select("v").as[Long].head() == 20L)
  }

  test("MultiSync hygiene: txnLog never deletes a live writer's .tmp " +
      "sidecar; a legacy v1 decision marker still rolls forward; " +
      "expectation log of a zero-commit table is empty, not an error") {
    import graft.ops.MultiSync
    val dir = java.nio.file.Files
      .createTempDirectory("graft_msync_hygiene").toString
    val (a, marker) = (s"$dir/a", s"$dir/txn")
    val fs = VersionedTable.fsFor(spark, marker)
    // a live COMMIT is mid-rename of its staged-record sidecar: the
    // read-only TVF must not delete the tmp out from under it
    val tmp = new org.apache.hadoop.fs.Path(marker + ".staged.0.tmp")
    val out = fs.create(tmp, false)
    out.write("half-written".getBytes("UTF-8")); out.close()
    assert(MultiSync.txnLog(spark, dir).count() == 0L)
    assert(fs.exists(tmp),
      "graft_txn_log deleted a live writer's in-flight tmp")
    fs.delete(tmp, false)
    // legacy v1 decision marker (round-10 binary crashed post-decision):
    // same body format, no txn id — recovery must roll it forward, not
    // wedge on 'unrecognized marker'
    VersionedTable.upsert(spark, a,
      Seq((1, "g0", 1L)).toDF("id", "g", "v"), Seq("id", "g"), Seq("g"))
    val v1 = VersionedTable.prepare(spark, a,
      Seq((2, "g0", 2L)).toDF("id", "g", "v"), Seq("id", "g"), Seq("g"))
    val dOut = fs.create(new org.apache.hadoop.fs.Path(marker), false)
    dOut.write((s"#graft-txnvector\t1\n" +
      s"${graft.ops.SpecFile.b64e(a)}\t$v1\n").getBytes("UTF-8"))
    dOut.close()
    MultiSync.recoverAtomic(spark, marker)
    assert(VersionedTable.currentVersion(spark, a).contains(v1),
      "v1 decision marker was not rolled forward")
    assert(VersionedTable.read(spark, a).count() == 2L)
    // graft_expect_log on a declared-but-never-written table: empty
    assert(graft.ops.Expectations.log(spark, s"$dir/neverwritten")
      .count() == 0L)
  }

  test("VersionedTable.repartitionTable: layout evolution, old versions intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtrepart").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day", "src")
    val rows = (0 until 120).map(i =>
      (i, s"d${i % 3}", s"s${i % 2}", i))
    VersionedTable.upsert(spark, root,
      rows.toDF("id", "day", "src", "v"), keys, "day")
    // evolve (day) -> (day, src); rows identical, new nested layout
    val v1 = VersionedTable.repartitionTable(spark, root, Seq("day", "src"),
      statsCols = Seq("v"), fileRows = Some(20))
    assert(v1 == 1)
    val now = VersionedTable.read(spark, root)
      .select($"id", $"day", $"src", $"v")
      .as[(Int, String, String, Int)].collect().toSet
    assert(now == rows.toSet)
    // pre-evolution version still time-travels
    assert(VersionedTable.read(spark, root, Some(0)).count() == 120)
    // upserts must now use the new layout: old single-col partCols reject
    intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((0, "d0", "s0", 999)).toDF("id", "day", "src", "v"), keys, "day")
    }
    // ...and the new layout merges pruned + stats ride along
    VersionedTable.upsert(spark, root,
      Seq((0, "d0", "s0", 999)).toDF("id", "day", "src", "v"), keys,
      Seq("day", "src"), statsCols = Seq("v"))
    assert(VersionedTable.readWhere(spark, root, "v", 999, 999)
      .select($"id").as[Int].collect().toSeq == Seq(0))
  }

  test("VersionedTable txn: duplicate (streamId, batchId) upserts are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vttxn").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    def up(bid: Long, v: Int) = VersionedTable.upsert(spark, root,
      Seq((1, "g0", v)).toDF("id", "grp", "v"), keys, Seq("grp"),
      txn = Some(("s1", bid)))
    up(5, 10)
    assert(VersionedTable.history(spark, root) == Seq(0))
    // the post-claim re-check makes a racing duplicate a no-op even when
    // the sink-side lastTxn probe was stale: same id and an older id both
    // commit NOTHING
    up(5, 99)
    up(4, 99)
    assert(VersionedTable.history(spark, root) == Seq(0))
    assert(VersionedTable.read(spark, root)
      .select($"v").as[Int].collect().toSeq == Seq(10))
    // a NEW batch id commits; a different stream's ids are independent
    up(6, 20)
    assert(VersionedTable.history(spark, root) == Seq(0, 1))
    VersionedTable.upsert(spark, root,
      Seq((2, "g0", 30)).toDF("id", "grp", "v"), keys, Seq("grp"),
      txn = Some(("s2", 1)))
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(6))
    assert(VersionedTable.lastTxn(spark, root, "s2").contains(1))
    assert(VersionedTable.lastTxn(spark, root, "s3").isEmpty)
  }

  test("VersionedTable txn watermarks survive maintenance commits + vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vttxn2").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    def up(bid: Long, v: Int) = VersionedTable.upsert(spark, root,
      Seq((1, "g0", v)).toDF("id", "grp", "v"), keys, Seq("grp"),
      txn = Some(("s1", bid)))
    up(5, 10)
    // a maintenance commit writes its own manifest, then vacuum(1) erases
    // the version whose upsert carried the #txn tag — the per-stream
    // watermark must ride forward in EVERY manifest or a checkpoint
    // replay would re-commit old batches as duplicate versions
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(5))
    val before = VersionedTable.history(spark, root)
    up(5, 99) // replayed batch: still a no-op
    assert(VersionedTable.history(spark, root) == before)
    assert(VersionedTable.read(spark, root)
      .select($"v").as[Int].collect().toSeq == Seq(10))
    // deleteWhere and repartitionTable carry the map too
    VersionedTable.deleteWhere(spark, root, "v", 1000, 2000)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(5))
    VersionedTable.repartitionTable(spark, root, Seq("grp"))
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(5))
    up(5, 77)
    assert(VersionedTable.read(spark, root)
      .select($"v").as[Int].collect().toSeq == Seq(10))
    up(6, 20) // a genuinely new batch still commits
    assert(VersionedTable.read(spark, root)
      .select($"v").as[Int].collect().toSeq == Seq(20))
  }

  test("VersionedTable float stats: Double bounds cannot mis-prune a file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtflt").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    // 40.05f widens to 40.04999923706055; a Float.toString rendering
    // ("40.05") would parse to a LARGER double under the stats ordering
    // and prune the file for any upper bound inside that half-ULP window,
    // silently losing matching rows. The render must go through the
    // lossless double widening.
    VersionedTable.upsert(spark, root,
      Seq((1, "g0", 40.05f), (2, "g0", 41.0f)).toDF("id", "grp", "v"),
      keys, Seq("grp"), statsCols = Seq("v"))
    val hit = VersionedTable.readWhere(spark, root, "v", 40.0, 40.04999950)
    assert(hit.select($"id").as[Int].collect().toSeq == Seq(1),
      "file with min=40.05f was pruned for an upper bound above its true min")
    // and pruning still bites when genuinely out of range
    assert(VersionedTable.readWhere(spark, root, "v", 100.0, 200.0)
      .count() == 0)
  }

  test("VersionedTable.syncChanges cursor survives a crash mid-promote") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtcur").toString
    val root = s"$dir/table"
    val cursor = s"$dir/cursor"
    val keys = Seq("id", "grp")
    VersionedTable.upsert(spark, root,
      Seq((1, "g0", 1)).toDF("id", "grp", "v"), keys, Seq("grp"))
    VersionedTable.syncChanges(spark, root, keys, cursor)(_ => ())
    // simulate the crash window between delete(cursor) and rename(tmp):
    // cursor absent, a COMPLETE .tmp holding the next value
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(cursor), spark.sparkContext.hadoopConfiguration)
    VersionedTable.upsert(spark, root,
      Seq((2, "g0", 2)).toDF("id", "grp", "v"), keys, Seq("grp"))
    val tmp = new org.apache.hadoop.fs.Path(cursor + ".tmp")
    val out = fs.create(tmp, true)
    out.write("1".getBytes("UTF-8")); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
    // recovery promotes the tmp; the consumer sees itself at v1 (already
    // synced per the crashed call) and reports no-op
    assert(VersionedTable.syncChanges(spark, root, keys, cursor)(_ => ())
      .isEmpty)
    // and keeps working for the next real change
    VersionedTable.upsert(spark, root,
      Seq((3, "g0", 3)).toDF("id", "grp", "v"), keys, Seq("grp"))
    var n = -1L
    assert(VersionedTable.syncChanges(spark, root, keys, cursor) { df =>
      n = df.count() }.contains((1, 2)))
    assert(n == 1)
  }

  test("VersionedScan.table supports self-joins and snapshot pinning") {
    import graft.plans.VersionedScan
    val dir = java.nio.file.Files.createTempDirectory("graft_vtself").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    VersionedTable.upsert(spark, root,
      (0 until 20).map(i => (i, "g0", i)).toDF("id", "grp", "v"),
      keys, Seq("grp"))
    val t = VersionedScan.table(spark, root)
    // self-join of ONE table() frame: MultiInstanceRelation re-instances
    val joined = t.as("a").join(t.as("b"),
      org.apache.spark.sql.functions.col("a.id") ===
        org.apache.spark.sql.functions.col("b.id"))
    assert(joined.count() == 20)
    // snapshot pinning: a commit AFTER table() does not change the frame
    VersionedTable.upsert(spark, root,
      Seq((100, "g0", 100)).toDF("id", "grp", "v"), keys, Seq("grp"))
    assert(t.count() == 20)
    assert(VersionedScan.table(spark, root).count() == 21)
  }

  test("VersionedTable.compact recomputes stats; skipping works post-compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtskip3").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    VersionedTable.upsert(spark, root,
      (0 until 200).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v"),
      keys, Seq("grp"), statsCols = Seq("v"), fileRows = Some(20))
    VersionedTable.compact(spark, root, statsCols = Seq("v"),
      fileRows = Some(50))
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 0, 30)
    assert(total >= 4 && kept < total,
      s"post-compact skipping did not bite: $kept/$total")
    assert(VersionedTable.readWhere(spark, root, "v", 0, 30)
      .count() == 31)
    // a table DELETE emptied: compacting it (bloom index requested, so
    // stats take the read-back path) writes no dirs and still commits
    val emptied = VersionedTable.deleteWhere(spark, root, "v", 0, 199)
    assert(VersionedTable.read(spark, root).count() == 0)
    val compacted = VersionedTable.compact(spark, root,
      statsCols = Seq("v"), bloomCols = Seq("v"))
    assert(compacted == emptied + 1)
    assert(VersionedTable.read(spark, root).count() == 0)
    assert(VersionedTable.fastCount(spark, root) == Some(0L))
  }

  test("VersionedTable.changeFeed: insert/update/delete + schema evolution") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtcdf").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"))
        .toDF("id", "day", "val"), keys, "day")
    // v1: id=2 changes, id=4 inserts, adds a 'score' column (evolution);
    // id 1 and 3 rewritten identical (1 via the touched d1 partition)
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a", null.asInstanceOf[Integer]),
        (2, "d1", "B", Integer.valueOf(7)),
        (4, "d1", "d", Integer.valueOf(9)))
        .toDF("id", "day", "val", "score"), keys, "day")
    val feed = VersionedTable.changeFeed(spark, root, keys, 0, 1)
      .select($"op", $"id", $"val", $"score")
      .as[(String, Int, String, Option[Int])].collect().toSet
    // id=1: val unchanged -> NOT in the feed (score is not a common
    // column, so evolution alone doesn't flag it); id=3 untouched
    assert(feed == Set(
      ("update", 2, "B", Some(7)),
      ("insert", 4, "d", Some(9))))
    // a delete shows up when a key vanishes: diff v1 -> v0 inverts the
    // insert into a delete carrying the FROM side's values; the output
    // schema is the TO version's (v0 has no score column)
    val backDf = VersionedTable.changeFeed(spark, root, keys, 1, 0)
    assert(!backDf.columns.contains("score"))
    val back = backDf.select($"op", $"id", $"val")
      .as[(String, Int, String)].collect().toSet
    assert(back == Set(("delete", 4, "d"), ("update", 2, "b")))
  }

  test("changeFeed spans OPTIMIZE at changed-dir cost (content tokens)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtok").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    // 8 partitions, two files each, id-stats so the DELETE prunes to
    // the dirs that can hold ids 0-1 (without stats it would rewrite —
    // and token-bump — every dir, making the skip assertions vacuous)
    val rows = (0 until 80).map(i => (i, s"d${i % 8}", s"v$i"))
    VersionedTable.upsert(spark, root, rows.toDF("id", "day", "val"),
      keys, Seq("day"), statsCols = Seq("id"), fileRows = Some(5)) // v0
    VersionedTable.deleteWhere(spark, root, "id", 0, 1) // v1: d0 + d1
    VersionedTable.compact(spark, root) // v2: every dir re-gens
    VersionedTable.upsert(spark, root,
      Seq((100, "d1", "new")).toDF("id", "day", "val"), keys,
      Seq("day")) // v3: touches d1 only
    val feed = VersionedTable.changeFeed(spark, root, keys, 0, 3)
    val ops = feed.select($"op", $"id").as[(String, Int)].collect().toSet
    assert(ops == Set(("delete", 0), ("delete", 1), ("insert", 100)))
    // the span CROSSES a full-table compaction, but the content tokens
    // see through it: the feed's physical scan must touch far fewer
    // files than both versions' full scans (v0 had 4 dirs x 4 files;
    // only the dirs with real changes may be read on either side)
    val naive = VersionedTable.physicalInputFiles(
      VersionedTable.read(spark, root, Some(0))) +
      VersionedTable.physicalInputFiles(VersionedTable.read(spark, root))
    val scanned = VersionedTable.physicalInputFiles(feed)
    assert(scanned < naive,
      s"feed scanned $scanned files, naive both-side scan is $naive")
    // a feed BETWEEN two sides of the compaction alone is empty and,
    // tokens preserved, scans nothing at all
    val across = VersionedTable.changeFeed(spark, root, keys, 1, 2)
    assert(across.count() == 0)
    assert(VersionedTable.physicalInputFiles(across) == 0,
      "pure-maintenance span still scanned files")
  }

  test("changeFeed ∘ applyCdc reconstructs v1 from v0 (CDC round trip)") {
    // THE consumer contract: the feed is sufficient to replay v0 into v1
    // through the ordered-CDC apply operator (insert/update -> U,
    // delete -> D) — ties the two CDC primitives together end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft_vtrt").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (9, "d3", "z"))
        .toDF("id", "day", "val"), keys, "day")
    VersionedTable.upsert(spark, root,
      Seq((2, "d1", "B"), (4, "d2", "d"), (5, "d4", "e"))
        .toDF("id", "day", "val"), keys, "day")
    val v0 = VersionedTable.read(spark, root, Some(0))
    val v1 = VersionedTable.read(spark, root, Some(1))
    val feed = VersionedTable.changeFeed(spark, root, keys, 0, 1)
    val asCdc = feed
      .withColumn("op", when($"op" === "delete", "D").otherwise("U"))
      .withColumn("seq", org.apache.spark.sql.functions.lit(1))
    val rebuilt = Merge.applyCdc(v0, asCdc, keys, Seq("seq"))
    val a = rebuilt.select($"id", $"day", $"val")
      .as[(Int, String, String)].collect().toSet
    val b = v1.select($"id", $"day", $"val")
      .as[(Int, String, String)].collect().toSet
    assert(a == b)
  }

  test("VersionedTable: compact rewrites to one file per partition, row-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtcmp").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    def up(rows: (Int, String, String)*): Unit = VersionedTable.upsert(
      spark, root, rows.toDF("id", "day", "val"), keys, "day")
    // three upserts all touching day d1 -> d1 accumulates a file per merge
    up((1, "d1", "a"), (2, "d2", "x"))
    up((1, "d1", "b"))
    up((3, "d1", "c")) // versions 0..2; d1 holds rows from gen2 only, but
                       // a long-lived hot partition collects files in
                       // general — compact flattens whatever is there
    val before = VersionedTable.read(spark, root)
      .orderBy("id").as[(Int, String, String)].collect().toSeq
    val v = VersionedTable.compact(spark, root)
    assert(v == 3 && VersionedTable.currentVersion(spark, root).contains(3))
    val after = VersionedTable.read(spark, root)
      .orderBy("id").as[(Int, String, String)].collect().toSeq
    assert(after == before) // row-identical relayout
    // one data file per partition dir in the compacted generation
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    Seq("day=d1", "day=d2").foreach { p =>
      val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/gen3/$p")).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      assert(files.length == 1, s"$p: ${files.map(_.getPath.getName)}")
    }
    // pre-compaction versions stay readable (time travel) until vacuum
    assert(VersionedTable.read(spark, root, Some(2))
      .orderBy("id").as[(Int, String, String)].collect().toSeq == before)
    VersionedTable.vacuum(spark, root) // keep current only
    assert(VersionedTable.history(spark, root) == Seq(3))
    assert(VersionedTable.read(spark, root)
      .orderBy("id").as[(Int, String, String)].collect().toSeq == before)
  }

  test("VersionedTable: schema evolution reads old generations null-filled") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtevo").toString
    val root = s"$dir/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d2", "b")).toDF("id", "day", "val"),
      keys, "day")
    // v1 adds a column; only partition d2 is touched — d1 stays in gen0
    // files that have no 'score' column
    VersionedTable.upsert(spark, root,
      Seq((2, "d2", "B", 9)).toDF("id", "day", "val", "score"),
      keys, "day")
    val cur = VersionedTable.read(spark, root)
      .select($"id", $"val", $"score").orderBy("id")
      .as[(Int, String, Option[Int])].collect().toSeq
    assert(cur == Seq((1, "a", None), (2, "B", Some(9))))
    // time travel to v0 serves the pre-evolution schema (no score column)
    val v0 = VersionedTable.read(spark, root, Some(0))
    assert(!v0.columns.contains("score"))
    assert(v0.select($"val").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("TopK plans as TakeOrderedAndProject (no global sort)") {
    val df = TopK.topK(ticks, Seq($"price".desc), 2)
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(df.select("price").as[Double].collect().toSeq == Seq(54.0, 50.0))
  }

  test("AsOfJoin: inclusive match, null before first quote, latest wins") {
    val left = Seq(
      ("K", ts("2024-01-01 00:00:30"), 1L), // before any quote -> null
      ("K", ts("2024-01-01 00:01:00"), 2L), // exactly at quote q1 -> q1
      ("K", ts("2024-01-01 00:05:00"), 3L), // between q1 and q2 -> q1
      ("K", ts("2024-01-01 00:10:00"), 4L), // after q2 -> q2
      ("Z", ts("2024-01-01 00:10:00"), 5L)  // key with no quotes -> null
    ).toDF("sym", "ts", "event_id")
    val right = Seq(
      ("K", ts("2024-01-01 00:01:00"), 10.0),
      ("K", ts("2024-01-01 00:06:00"), 20.0)
    ).toDF("sym", "qts", "quote")
    val out = AsOfJoin.asOf(left, right, "sym", "ts", "qts",
        Seq("quote"), tiebreak = "event_id")
      .orderBy("event_id")
      .select("event_id", "asof_quote").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(
      1L -> None, 2L -> Some(10.0), 3L -> Some(10.0),
      4L -> Some(20.0), 5L -> None))
  }

  test("AsOfJoinNative: custom SparkPlan matches the composition exactly") {
    val left = Seq(
      ("K", ts("2024-01-01 00:00:30"), 1L),
      ("K", ts("2024-01-01 00:01:00"), 2L),
      ("K", ts("2024-01-01 00:05:00"), 3L),
      ("K", ts("2024-01-01 00:10:00"), 4L),
      ("Z", ts("2024-01-01 00:10:00"), 5L)
    ).toDF("sym", "ts", "event_id")
    val right = Seq(
      ("K", ts("2024-01-01 00:01:00"), 10.0),
      ("K", ts("2024-01-01 00:06:00"), 20.0)
    ).toDF("sym", "qts", "quote")
    val native = graft.plans.AsOfJoinNative.asOf(left, right, "sym", "ts",
      "qts", Seq("quote"))
    // the custom exec actually planned (nodeName renders without "Exec"),
    // fed by key-hash Exchanges + (key, ts) Sorts from EnsureRequirements
    val planStr = native.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfJoin") && planStr.contains("Exchange hashpartitioning"))
    val out = native.orderBy("event_id")
      .select("event_id", "asof_quote").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(
      1L -> None, 2L -> Some(10.0), 3L -> Some(10.0),
      4L -> Some(20.0), 5L -> None))
    // larger randomized cross-check on real data: native == composition
    val ev = graft.ops.Ingest.events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "user_id", "event_type", "value",
        "ts AS ets")
    val l2 = ev.filter($"event_id" % 7 === 0)
      .select($"event_type", $"ets".as("lts"), $"event_id")
    val r2 = ev.filter($"event_id" % 3 === 0)
      .select($"event_type", $"ets".as("rts"), $"value")
    val a = graft.plans.AsOfJoinNative.asOf(l2, r2, "event_type", "lts",
        "rts", Seq("value"))
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val b = AsOfJoin.asOf(l2, r2, "event_type", "lts", "rts",
        Seq("value"), tiebreak = "event_id")
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a.size > 100 && a == b)
    // self-join shape (both sides the same scan) must not blow up on
    // duplicate expression ids
    val selfJ = graft.plans.AsOfJoinNative.asOf(
      ev.select($"event_type", $"ets", $"event_id"),
      ev.select($"event_type", $"ets", $"value"),
      "event_type", "ets", "ets", Seq("value"))
    assert(selfJ.count() == ev.count())
  }

  test("RangeJoin: inclusive bounds, bucket-crossing intervals, no dups") {
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")), // == interval start (inclusive)
      (2L, ts("2024-01-01 02:30:00")), // interior, different bucket than start
      (3L, ts("2024-01-01 04:00:00")), // == interval end (inclusive)
      (4L, ts("2024-01-01 04:00:01"))  // just outside
    ).toDF("pid", "pt")
    val intervals = Seq(
      (100L, ts("2024-01-01 00:00:00"), ts("2024-01-01 04:00:00")),
      (200L, ts("2024-01-01 02:00:00"), ts("2024-01-01 03:00:00"))
    ).toDF("iid", "s", "e")
    // 1h buckets force the 4h interval to span 5 buckets
    val out = RangeJoin.pointInInterval(points, "pt", intervals, "s", "e",
        bucketSeconds = 3600)
      .select("pid", "iid").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 100L), (2L, 100L), (2L, 200L), (3L, 100L)))
  }

  test("Clean.requireColumns: pass-through when present, throws naming missing") {
    val passed = Clean.requireColumns(ticks, Seq("symbol", "PRICE", "volume"))
    assert(passed eq ticks) // unchanged frame, case-insensitive match
    val e = intercept[IllegalArgumentException] {
      Clean.requireColumns(ticks, Seq("symbol", "vwap", "exchange"))
    }
    assert(e.getMessage.contains("vwap") && e.getMessage.contains("exchange"))
    // present columns are listed after ';', not reported as missing
    assert(!e.getMessage.split(";")(0).contains("symbol"))
  }

  test("decodeKafkaJson: binary JSON value -> typed tick columns") {
    // the exact message shape the reference producer emits
    // (stream_data_producer.py:120-131), as Kafka would deliver it: a
    // binary `value` payload alongside broker metadata columns
    val records = Seq(
      """{"symbol":"AAPL","price":190.5,"change":0.5,"change_percent":"0.26%","volume":"1000","timestamp":"2024-01-01T09:30:00"}""",
      """{"symbol":"MSFT","price":410.0,"change":-1.0,"volume":"2000","timestamp":"2024-01-01T09:30:30"}""")
      .toDF("json")
      .select(lit("t").as("topic"), lit(0).as("partition"),
        monotonically_increasing_id().as("offset"),
        lit(null).cast("binary").as("key"),
        col("json").cast("binary").as("value"))
    val out = Clean.castTicks(
      Ingest.decodeKafkaJson(records, graft.model.Schemas.tickRaw))
      .orderBy("symbol").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("symbol") == "AAPL")
    assert(out(0).getAs[Double]("change_percent") == 0.26)
    assert(out(1).getAs[Long]("volume") == 2000L)
    assert(out(1).isNullAt(out(1).fieldIndex("change_percent")))
  }

  test("Dedup.dupCheck flags only keys with >1 row") {
    val out = Dedup.dupCheck(ticks, Seq("symbol")).collect()
    assert(out.length == 2) // both symbols have >1
    val one = Dedup.dupCheck(ticks.limit(1), Seq("symbol")).collect()
    assert(one.isEmpty)
  }

  test("plan shapes: WindowGroupLimit, single Expand, bloom below the join") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // per-group top-k bounds each group's window buffer at k
    val topk = TopK.topKPerGroup(li, Seq("l_returnflag"),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc), 3)
    assert(topk.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    // rollup: ONE Expand node feeding one aggregate pair, not L passes
    val ru = Rollup.rollupAgg(li, Seq("l_returnflag", "l_linestatus"),
      Seq(sum(col("l_quantity")).as("s")))
    val ruPlan = ru.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(ruPlan).length == 1)
    // bloom prefilter: might_contain filters the fact scan BEFORE the join
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val bloom = Joins.bloomSemiJoin(li, orders.limit(100), "l_orderkey",
      "o_orderkey", estItems = 1000L)
    val bloomPlan = bloom.queryExecution.optimizedPlan.toString
    val mightIdx = bloomPlan.indexOf("might_contain")
    val joinIdx = bloomPlan.indexOf("Join LeftSemi")
    assert(mightIdx >= 0 && joinIdx >= 0 && joinIdx < mightIdx,
      "might_contain filter must sit BELOW (after, in plan text) the semi join")
  }

  test("Ingest.available: existence + non-empty-glob gating (S10 sensor)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sensor").toString
    assert(Ingest.available(spark, dir))
    assert(!Ingest.available(spark, dir + "/nope"))
    assert(!Ingest.available(spark, dir, Some("*.csv"))) // exists but empty
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.csv"),
      "a,b\n1,2\n".getBytes)
    assert(Ingest.available(spark, dir, Some("*.csv")))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "empty.json"),
      Array.empty[Byte])
    assert(!Ingest.available(spark, dir, Some("*.json"))) // zero-length file
  }

  test("Sessionize.bySessionWindow: exclusive-end boundary vs byGap") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:30:00", 2.0),  // exactly the 30m gap
      (1L, "2024-01-01 00:40:00", 3.0))
      .map { case (u, t, v) => (u, ts(t), v) }
      .toDF("user_id", "ts", "value")
      .withColumn("event_id", monotonically_increasing_id())
    // native session_window merge is end-INCLUSIVE: a gap of exactly 30m
    // stays in the session — same break rule as byGap (this pins the
    // boundary the q_session_window oracle encodes)
    val sw = Sessionize.bySessionWindow(ev, "user_id", "ts", "value", 30)
      .orderBy("session_start").collect()
    assert(sw.length == 1)
    assert(sw(0).getAs[Long]("n_events") == 3)
    assert(sw(0).getAs[java.sql.Timestamp]("session_end") ==
      ts("2024-01-01 01:10:00")) // last event + gap
    // a strictly-greater gap does break
    val ev2 = ev.withColumn("ts",
      when($"value" === 3.0, lit(ts("2024-01-01 01:00:01")))
        .otherwise($"ts"))
    val sw2 = Sessionize.bySessionWindow(ev2, "user_id", "ts", "value", 30)
      .orderBy("session_start").collect()
    assert(sw2.length == 2)
    // byGap groups identically (only session_end reporting differs)
    val bg = Sessionize.byGap(ev, "user_id", "ts", "value", 30, "event_id")
      .collect()
    assert(bg.length == 1 && bg(0).getAs[Long]("n_events") == 3)
  }

  test("Sessionize.runs: NULL groupable state, 1-based idx, tie order") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "A"),
      (1L, "2024-01-01 00:01:00", 2L, "A"),
      (1L, "2024-01-01 00:02:00", 3L, null), // NULLs merge into ONE run
      (1L, "2024-01-01 00:03:00", 4L, null),
      (1L, "2024-01-01 00:04:00", 5L, "A"),  // A again => NEW run
      (2L, "2024-01-01 00:00:00", 6L, null)) // first-row NULL state
      .map { case (u, t, e, st) => (u, ts(t), e, st) }
      .toDF("user_id", "ts", "event_id", "state")
    val out = Sessionize.runs(df, "user_id", "ts", "event_id", "state")
      .orderBy("user_id", "run_idx").collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_idx"),
        r.getAs[String]("state"), r.getAs[Long]("n_events"))).toSeq ==
      Seq((1L, 1L, "A", 2L), (1L, 2L, null, 2L), (1L, 3L, "A", 1L),
        (2L, 1L, null, 1L))) // run_idx 1-based even when first state is NULL
    // tie on ts: tiebreak column orders the rows, so the run split is
    // deterministic (event_id 8 [B] sits between the two A's)
    val tied = Seq(
      (3L, "2024-01-01 00:00:00", 7L, "A"),
      (3L, "2024-01-01 00:00:00", 9L, "A"),
      (3L, "2024-01-01 00:00:00", 8L, "B"))
      .map { case (u, t, e, st) => (u, ts(t), e, st) }
      .toDF("user_id", "ts", "event_id", "state")
    val tr = Sessionize.runs(tied, "user_id", "ts", "event_id", "state")
      .orderBy("run_idx").collect()
    assert(tr.map(r => (r.getAs[Long]("run_idx"), r.getAs[String]("state")))
      .toSeq == Seq((1L, "A"), (2L, "B"), (3L, "A")))
  }

  test("Sessionize.debounce: last-KEPT anchoring, NULL ts passthrough") {
    val df = Seq(
      (1L, Some("2024-01-01 00:00:00"), 1L),
      (1L, Some("2024-01-01 00:00:30"), 2L), // 30s from kept => dropped
      (1L, Some("2024-01-01 00:01:00"), 3L), // 60s from KEPT t0 => kept
      (1L, None, 4L),                        // NULL ts: kept=NULL, no state
      (1L, Some("2024-01-01 00:02:10"), 5L), // 70s from t60 => kept
      (2L, Some("2024-01-01 00:00:00"), 6L)) // first row of key => kept
      .map { case (u, t, e) => (u, t.map(ts).orNull, e) }
      .toDF("user_id", "ts", "event_id")
    val out = Sessionize.debounce(df, "user_id", "ts", "event_id", 60L)
      .orderBy("event_id").collect()
    assert(out.map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Boolean]("kept")))).toSeq ==
      Seq((1L, Some(true: java.lang.Boolean)),
        (2L, Some(false: java.lang.Boolean)),
        (3L, Some(true: java.lang.Boolean)),
        (4L, None),
        (5L, Some(true: java.lang.Boolean)),
        (6L, Some(true: java.lang.Boolean))))
    // a plain lag() filter would KEEP event 3's predecessor-relative gap
    // wrong way: the t30 row was dropped, so t60 measures from t0
  }

  test("Stats.abcClassify: bands match flat order; all-NULL key survives") {
    val df = Seq(
      ("k1", Some(80L)), ("k2", Some(15L)), ("k3", Some(5L)),
      ("k4", None), ("k4", None)) // all-NULL measure => total 0, classed
      .toDF("k", "m")
    val out = Stats.abcClassify(df, Seq.empty, "k", col("m"))
      .orderBy("cum_sum", "k").collect()
    assert(out.map(r => (r.getAs[String]("k"), r.getAs[Long]("measure_sum"),
        r.getAs[String]("abc_class"))).toSeq ==
      Seq(("k1", 80L, "A"), ("k2", 15L, "B"), ("k3", 5L, "C"),
        ("k4", 0L, "C")))
    // equal totals tie-break by key ascending (deterministic cum order)
    val tie = Seq(("a", 50L), ("b", 50L)).toDF("k", "m")
    val t = Stats.abcClassify(tie, Seq.empty, "k", col("m"))
      .orderBy("k").collect()
    assert(t.map(r => (r.getAs[String]("k"), r.getAs[Long]("cum_sum")))
      .toSeq == Seq(("a", 50L), ("b", 100L)))
  }

  test("Joins: semi + anti partition the left side; bloom == semi") {
    val left = (1L to 100L).toDF("k")
    val right = Seq(2L, 4L, 6L, 999L).toDF("r")
    val semi = Joins.semiJoin(left, right, "k", "r").as[Long].collect().sorted
    val anti = Joins.antiJoin(left, right, "k", "r").as[Long].collect().sorted
    assert(semi.toSeq == Seq(2L, 4L, 6L))
    assert(semi.length + anti.length == 100)
    assert((semi ++ anti).toSet == (1L to 100L).toSet)
    val bloom = Joins.bloomSemiJoin(left, right, "k", "r", estItems = 100L)
      .as[Long].collect().sorted
    assert(bloom.toSeq == semi.toSeq) // exact despite the probabilistic prefilter
    // empty small side -> empty semi, not a crash on a null bloom
    assert(Joins.bloomSemiJoin(left, right.filter($"r" < 0), "k", "r")
      .isEmpty)
  }

  test("bloom prefilter alone has no false negatives") {
    val keys = (1L to 1000L).toDF("k")
    val bloom = Joins.buildBloom(keys, "k", estItems = 1000L)
    val kept = (1L to 2000L).toDF("k")
      .filter(Joins.mightContain(bloom, $"k")).as[Long].collect().toSet
    assert((1L to 1000L).forall(kept.contains)) // every true member passes
    assert(kept.size < 2000) // and the filter actually prunes something
  }

  test("TopK.topKPerGroup keeps k rows per group in order") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8))
      .toDF("g", "v")
    val out = TopK.topKPerGroup(df, Seq("g"), Seq($"v".desc), k = 2)
      .select("g", "v", "rank").as[(String, Int, Int)].collect().toSet
    assert(out == Set(("a", 3, 1), ("a", 2, 2), ("b", 9, 1), ("b", 8, 2)))
  }

  test("Rollup.rollupAgg emits all grains with grouping_id") {
    val df = Seq(("x", "p", 1L), ("x", "q", 2L), ("y", "p", 4L))
      .toDF("a", "b", "v")
    val out = Rollup.rollupAgg(df, Seq("a", "b"), Seq(sum($"v").as("s")))
      .select("a", "b", "grouping_id", "s")
      .as[(Option[String], Option[String], Long, Long)].collect().toSet
    assert(out.contains((Some("x"), Some("p"), 0L, 1L))) // leaf
    assert(out.contains((Some("x"), None, 1L, 3L)))      // per-a subtotal
    assert(out.contains((None, None, 3L, 7L)))           // grand total
    assert(out.size == 6)
  }

  test("Rollup.pivotAgg produces fixed columns incl. absent-value nulls") {
    val df = Seq(("x", "p", 1L), ("x", "q", 2L), ("y", "p", 4L))
      .toDF("g", "s", "v")
    val out = Rollup.pivotAgg(df, "g", "s", Seq("p", "q", "zz"), sum($"v"))
      .orderBy("g").collect()
    assert(out(0).getLong(out(0).fieldIndex("p")) == 1L)
    assert(out(0).getLong(out(0).fieldIndex("q")) == 2L)
    assert(out(0).isNullAt(out(0).fieldIndex("zz"))) // enumerated but absent
    assert(out(1).isNullAt(out(1).fieldIndex("q")))  // y has no q rows
  }

  test("Sampling: modSample exact residue class; hashSample deterministic") {
    val df = (0L until 1000L).toDF("id")
    val mod = Sampling.modSample(df, "id", k = 10, r = 3).as[Long].collect()
    assert(mod.length == 100 && mod.forall(_ % 10 == 3))
    val h1 = Sampling.hashSample(df, $"id", 0.2).as[Long].collect().toSet
    val h2 = Sampling.hashSample(df, $"id", 0.2).as[Long].collect().toSet
    assert(h1 == h2) // replayable
    assert(h1.size > 100 && h1.size < 300) // ~200 expected
    val strat = Sampling.stratifiedFixed(
      Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 2L)).toDF("g", "id"),
      Seq("g"), "id", k = 2)
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(strat == Set(("a", 1L), ("a", 5L), ("b", 2L)))
  }

  test("z-order clustering bounds BOTH dimensions per partition") {
    // x counts up, y decorrelated via a Weyl-ish multiplier: a single-key
    // sort would leave the other dimension spanning the full range
    val df = (0 until 4096)
      .map(i => (i.toLong, (i * 2654435761L) % 4096L))
      .toDF("x", "y")
    def extents(clustered: org.apache.spark.sql.DataFrame) = clustered
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max($"x") - min($"x")).as("xe"), (max($"y") - min($"y")).as("ye"))
      .select("xe", "ye").as[(Long, Long)].collect()
    val z = extents(ZOrder.clusterByZ(df, "x", "y", 16))
    assert(z.length == 16)
    // a 16-way z-partition of a 4096x4096 grid covers ~1/4 of each axis
    // per partition (quadrant-straddling range cuts allowed 3/4 slack)
    assert(z.map(_._1).sum / z.length <= 3 * 4096 / 4, z.toSeq)
    assert(z.map(_._2).sum / z.length <= 3 * 4096 / 4, z.toSeq)
    // the single-key sort keeps x tight but spans ALL of y everywhere —
    // the contrast that makes the interleave worth a write-side sort
    val x = extents(df.repartitionByRange(16, $"x")
      .sortWithinPartitions($"x"))
    assert(x.map(_._2).min > 3 * 4096 / 4, x.toSeq)
    // z-values themselves are nondecreasing within each partition
    val ordered = ZOrder.clusterByZ(df, "x", "y", 16)
      .select($"zval").mapPartitions { it =>
        var prev = Long.MinValue
        var ok = true
        it.foreach { r =>
          val v = r.getLong(0); if (v < prev) ok = false; prev = v }
        Iterator.single(ok)
      }.collect()
    assert(ordered.forall(identity))
  }

  test("Observe.withMetrics: funnel counters ride the result job") {
    import org.apache.spark.sql.functions._
    val raw = Seq(("a", Some(1.0)), ("b", None), ("c", Some(3.0)),
      ("d", Some(-7.0))).toDF("k", "v")
    val (observed, obs) = Observe.withMetrics(raw, "funnel", Seq(
      "n_in" -> count(lit(1)),
      "n_null_v" -> count(when($"v".isNull, 1)),
      "n_negative" -> count(when($"v" < 0, 1))))
    // the downstream clean step consumes the observed frame; ONE job runs
    val kept = observed.filter($"v".isNotNull && $"v" >= 0).count()
    assert(kept == 2)
    val m = obs.get
    assert(m("n_in") == 4L && m("n_null_v") == 1L && m("n_negative") == 1L)
  }

  test("readJsonlAudited: clean rows parse, malformed lines quarantine") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_audit")
    java.nio.file.Files.writeString(dir.resolve("m.jsonl"), Seq(
      """{"id":1,"v":"ok"}""",
      """{"id":2,"v":"also ok"}""",
      """{"id":3,"v":  TRUNCATED""",
      """not json at all""").mkString("\n"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val (clean, quarantine) = Ingest.readJsonlAudited(spark, dir.toString,
      schema)
    assert(clean.columns.toSeq == Seq("id", "v"))
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val bad = quarantine.as[String].collect()
    assert(bad.length == 2)
    assert(bad.exists(_.contains("TRUNCATED")))
    assert(bad.contains("not json at all")) // raw line preserved for replay
  }

  test("compactParquet: many tiny files -> few target-size files, same rows") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val df = (1L to 10000L).toDF("v")
    df.repartition(40).write.parquet(in)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in).length == 40)
    // target far above total input size -> single output file
    val n = Ingest.compactParquet(spark, in, out)
    assert(n == 1 && parquetFiles(out).length == 1)
    val back = spark.read.parquet(out)
    assert(back.count() == 10000L)
    assert(back.agg(sum($"v")).as[Long].head() == 10000L * 10001 / 2)
    // small target -> more files (bounded by the read's partition count,
    // since coalesce never increases partitions); returned count is what
    // actually landed, rows always preserved
    val out2 = base.resolve("out2").toString
    val tiny = Ingest.compactParquet(spark, in, out2,
      targetFileBytes = 16L * 1024)
    assert(parquetFiles(out2).length == tiny)
    assert(tiny >= 1 && tiny <= 40)
    assert(spark.read.parquet(out2).count() == 10000L)
  }

  test("hashSplit: deterministic, exhaustive, leakage-safe on a group key") {
    val docs = (0L until 2000L).map(i => (i, i / 4)).toDF("doc_id", "grp")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val byRow = Curate.hashSplit(docs, $"doc_id", splits, salt = "s1")
    // every row gets exactly one of the declared labels
    val counts = byRow.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000L)
    // fractions are honored within sampling noise (md5 is uniform)
    assert(counts("train") > 1500 && counts("train") < 1700, counts)
    // same key + salt -> same assignment on a rerun
    val again = Curate.hashSplit(docs, $"doc_id", splits, salt = "s1")
    assert(byRow.except(again).isEmpty && again.except(byRow).isEmpty)
    // splitting on the GROUP key puts every member of a group together
    val byGroup = Curate.hashSplit(docs, $"grp", splits, salt = "s1")
    val splitsPerGroup = byGroup.groupBy("grp")
      .agg(countDistinct($"split").as("n")).agg(max($"n")).as[Long].head()
    assert(splitsPerGroup == 1L)
  }

  test("mixtureRepeat: epoch repetition — floor copies plus hash fraction") {
    val docs = (0L until 3000L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out = Curate.mixtureRepeat(docs, "source", $"doc_id",
      Map("src0" -> 2.5, "src1" -> 1.0))
    val n = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(n("src1") == 1000L)                    // exactly one copy each
    assert(n("src0") > 2300 && n("src0") < 2700, n) // ~2.5x
    assert(!n.contains("src2"))                   // weight 0
    // every src0 doc appears 2 or 3 times, copy ids dense from 0
    val copies = out.filter($"source" === "src0").groupBy("doc_id")
      .agg(count(lit(1)).as("c"), max($"copy_id").as("m"))
      .as[(Long, Long, Long)].collect()
    assert(copies.forall(r => (r._2 == 2 || r._2 == 3) && r._3 == r._2 - 1))
    // deterministic on rerun
    val again = Curate.mixtureRepeat(docs, "source", $"doc_id",
      Map("src0" -> 2.5, "src1" -> 1.0))
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("mixtureSample: per-source keep rates; unknown sources drop") {
    val docs = (0L until 3000L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out = Curate.mixtureSample(docs, "source", $"doc_id",
      Map("src0" -> 1.0, "src1" -> 0.5))
    val kept = out.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(kept("src0") == 1000L)          // weight 1.0 keeps every row
    assert(kept("src1") > 400 && kept("src1") < 600, kept) // ~half
    assert(!kept.contains("src2"))         // absent from weights -> dropped
  }

  test("chunkByTokens: sliding windows cover every token once per stride") {
    val docs = Seq((1L, 0L), (2L, 1L), (3L, 128L), (4L, 129L), (5L, 300L))
      .toDF("doc_id", "n_tokens")
    val chunks = Curate.chunkByTokens(docs, "n_tokens", size = 128,
        overlap = 32)
      .select("doc_id", "chunk_id", "tok_start", "tok_end")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(!chunks.contains(1L))                     // empty doc: no chunks
    assert(chunks(2L) == Seq((2L, 0L, 0L, 1L)))      // tiny doc: one chunk
    assert(chunks(3L) == Seq((3L, 0L, 0L, 128L)))    // exactly one window
    assert(chunks(4L) == Seq((4L, 0L, 0L, 128L), (4L, 1L, 96L, 129L)))
    // stride 96: starts 0,96,192 cover 300 tokens; ends clamp to n_tokens
    assert(chunks(5L) == Seq((5L, 0L, 0L, 128L), (5L, 1L, 96L, 224L),
      (5L, 2L, 192L, 300L)))
    // invariant: consecutive chunks overlap by exactly `overlap` until clamp
    chunks(5L).sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 - a._3 == 96L)
    }
  }

  test("snapshotDiff: added/removed/changed with null-safe content compare") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None),
      (4L, Some("d"))).toDF("id", "payload")
    val now = Seq((1L, Some("a")), (2L, Some("B")), (3L, None),
      (5L, Some("e"))).toDF("id", "payload")
    val diff = Merge.snapshotDiff(old, now, Seq("id"), Seq("payload"))
      .as[(Long, String)].collect().toSet
    // 1 unchanged, 3 unchanged (null == null under <=>), 2 changed,
    // 4 removed, 5 added
    assert(diff == Set((2L, "changed"), (4L, "removed"), (5L, "added")))
    // null -> value is a change, not a match
    val nowNull = Seq((3L, Some("x"))).toDF("id", "payload")
    val d2 = Merge.snapshotDiff(old.filter($"id" === 3), nowNull,
      Seq("id"), Seq("payload")).as[(Long, String)].collect().toSet
    assert(d2 == Set((3L, "changed")))
    // a null-KEYED row removed from the new snapshot reads as removed —
    // presence comes from marker columns, never from key nullness
    val oldNk = Seq((Some(7L), "a"), (None, "b")).toDF("id", "payload")
    val nowNk = Seq((Some(7L), "a")).toDF("id", "payload")
    val d3 = Merge.snapshotDiff(oldNk, nowNk, Seq("id"), Seq("payload"))
      .select($"change").as[String].collect().toSeq
    assert(d3 == Seq("removed"))
  }

  test("tokenPack: concat-and-chunk offsets and pack ids per partition") {
    val docs = Seq(
      ("en", 1L, 300L), ("en", 2L, 300L), ("en", 3L, 500L), ("en", 4L, 10L),
      ("fr", 9L, 600L), ("fr", 10L, 100L))
      .toDF("lang", "doc_id", "n_tokens")
    val packed = Curate.tokenPack(docs, Seq("lang"), Seq($"doc_id"),
        "n_tokens", budget = 512L)
      .select("lang", "doc_id", "start_offset", "pack_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(packed == Set(
      ("en", 1L, 0L, 0L),     // [0, 300)
      ("en", 2L, 300L, 0L),   // starts at 300, straddles into pack 1
      ("en", 3L, 600L, 1L),   // 600 / 512 = 1
      ("en", 4L, 1100L, 2L),  // 1100 / 512 = 2
      ("fr", 9L, 0L, 0L),     // fr stream is independent
      ("fr", 10L, 600L, 1L)))
  }

  test("laggedFeatures: lag/lead offsets, pct_change null at lag 0 or edge") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 0.0), ("a", 3L, 5.0), ("b", 9L, 7.0))
      .toDF("k", "id", "value")
    val out = WindowAnalytics.laggedFeatures(df, "k", Seq("id"), "value",
        Seq(1))
      .select("id", "lag_1", "lead_1", "pct_change")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(1) && out(1L).getDouble(2) == 0.0
      && out(1L).isNullAt(3))                      // no predecessor
    assert(out(2L).getDouble(1) == 10.0 && out(2L).getDouble(2) == 5.0
      && out(2L).getDouble(3) == -1.0)             // (0-10)/10
    assert(out(3L).isNullAt(3))                    // lag_1 == 0 -> null, not inf
    assert(out(9L).isNullAt(1) && out(9L).isNullAt(2)) // keys are independent
    // pct_change is defined vs lag_1: offsets without 1 are a misuse, not a
    // silent feature substitution
    intercept[IllegalArgumentException] {
      WindowAnalytics.laggedFeatures(df, "k", Seq("id"), "value", Seq(3))
    }
  }

  test("rankFeatures: rank vs dense_rank under ties; exact pct/cume") {
    val df = Seq(("a", 1L, 3.0), ("a", 2L, 3.0), ("a", 3L, 1.0))
      .toDF("k", "id", "v")
    // order by v desc WITHOUT tiebreak to exercise tie semantics
    val out = WindowAnalytics.rankFeatures(df, Seq("k"), Seq($"v".desc))
      .select("id", "rnk", "dense_rnk", "pct_rank", "cume_d")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1 && out(2L).getInt(1) == 1)
    assert(out(3L).getInt(1) == 3 && out(3L).getInt(2) == 2)
    assert(out(1L).getDouble(3) == 0.0 && out(3L).getDouble(3) == 1.0)
    assert(out(1L).getDouble(4) == 2.0 / 3 && out(3L).getDouble(4) == 1.0)
  }

  test("setCompare: set vs multiset semantics on duplicated rows") {
    val a = Seq("x", "x", "y").toDF("v")
    val b = Seq("x", "z").toDF("v")
    val out = Combine.setCompare(a, b).as[(String, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(out("intersect") == Seq("x"))          // distinct
    assert(out("only_a") == Seq("y"))             // distinct difference
    assert(out("only_b") == Seq("z"))
    assert(out("intersect_all") == Seq("x"))      // min(2, 1) = 1 copy
    assert(out("only_a_all") == Seq("x", "y"))    // max(2-1, 0) x + y
    assert(out("only_b_all") == Seq("z"))
  }

  test("exactPercentiles: interpolated quartiles, one row per q") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0))
      .toDF("k", "value")
    val out = Stats.exactPercentiles(df, Seq("k"), "value",
        Seq(0.25, 0.5, 0.75))
      .select("k", "q", "value_q", "n")
      .as[(String, Double, Double, Long)].collect().toSet
    // rank = (n-1) q: 0.75 -> 1.75, 1.5 -> 2.5, 2.25 -> 3.25
    assert(out == Set(("a", 0.25, 1.75, 4L), ("a", 0.5, 2.5, 4L),
      ("a", 0.75, 3.25, 4L)))
  }

  test("resampleLast: dense grid, gap marking, forward fill, leading null") {
    val df = Seq(
      // key a: events in hours 0 and 3 only -> gaps at 1, 2
      ("a", 1L, ts("2024-01-01 00:10:00"), 10.0),
      ("a", 2L, ts("2024-01-01 00:50:00"), 11.0), // later in same bucket wins
      ("a", 3L, ts("2024-01-01 03:05:00"), 30.0),
      // key b: single event -> single-row grid
      ("b", 9L, ts("2024-01-01 05:00:00"), 7.0))
      .toDF("k", "event_id", "ts", "value")
    val out = Resample.resampleLast(df, Seq("k"), "ts", "value",
        step = "1 hour", tiebreak = Seq("event_id"))
      .select("k", "grid_ts", "v_last", "is_gap", "value_ff")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getInt(3), r.getDouble(4)))
      .toSet
    assert(out == Set(
      ("a", "2024-01-01 00:00:00.0", Some(11.0), 0, 11.0),
      ("a", "2024-01-01 01:00:00.0", None, 1, 11.0),
      ("a", "2024-01-01 02:00:00.0", None, 1, 11.0),
      ("a", "2024-01-01 03:00:00.0", Some(30.0), 0, 30.0),
      ("b", "2024-01-01 05:00:00.0", Some(7.0), 0, 7.0)))
  }

  test("interpolate: interior gaps take the line, edge gaps stay null") {
    val df = Seq(
      ("a", 1L, ts("2024-01-01 01:00:00"), 10.0), // leading gap at 00? no: grid starts at first bucket
      ("a", 2L, ts("2024-01-01 04:00:00"), 40.0), // gaps at 02, 03
      ("a", 3L, ts("2024-01-01 06:00:00"), 0.0))  // gap at 05
      .toDF("k", "event_id", "ts", "value")
    val out = Resample.interpolate(
      Resample.resampleLast(df, Seq("k"), "ts", "value",
        step = "1 hour", tiebreak = Seq("event_id")),
      Seq("k"), "grid_ts", "v_last")
      .select("grid_ts", "v_interp").collect()
      .map(r => r.getTimestamp(0).toString ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("2024-01-01 02:00:00.0") == Some(20.0))
    assert(out("2024-01-01 03:00:00.0") == Some(30.0))
    assert(out("2024-01-01 05:00:00.0") == Some(20.0)) // 40 -> 0 midpoint
    assert(out("2024-01-01 01:00:00.0") == Some(10.0)) // observed passes
    // trailing-gap semantics: extend key b past its last observation
    val df2 = Seq(("b", 1L, ts("2024-01-01 00:00:00"), 5.0),
      ("b", 2L, ts("2024-01-01 02:00:00"), 9.0)).toDF("k", "event_id", "ts", "value")
    val g2 = Resample.toGrid(Resample.lastPerBucket(df2, Seq("k"), "ts",
      "value", "1 hour", Seq("event_id")), Seq("k"), "1 hour")
      .union(Seq(("b", ts("2024-01-01 03:00:00"), Option.empty[Double], 1))
        .toDF("k", "grid_ts", "v_last", "is_gap"))
    val out2 = Resample.interpolate(g2, Seq("k"), "grid_ts", "v_last")
      .select("grid_ts", "v_interp").collect()
      .map(r => r.getTimestamp(0).toString ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out2("2024-01-01 01:00:00.0") == Some(7.0))
    assert(out2("2024-01-01 03:00:00.0") == None) // trailing: no anchor
  }

  test("histogram: fixed bins, clamped edges, nulls dropped") {
    val df = Seq(("a", Some(-5.0)), ("a", Some(0.0)), ("a", Some(9.9)),
        ("a", Some(10.0)), ("a", Some(99.0)), ("a", Some(250.0)),
        ("a", None))
      .toDF("k", "value")
    val out = Stats.histogram(df, Seq("k"), "value", lo = 0.0, hi = 100.0,
        nbins = 10)
      .select("k", "bin", "n", "bin_lo", "bin_hi")
      .as[(String, Int, Long, Double, Double)].collect().toSet
    assert(out == Set(
      ("a", 0, 3L, 0.0, 10.0),   // -5 clamps up, 0.0 and 9.9 in-range
      ("a", 1, 1L, 10.0, 20.0),  // boundary lands in the upper bin
      ("a", 9, 2L, 90.0, 100.0))) // 99 in-range, 250 clamps down
  }

  test("saltedJoin: row-identical to the plain join, multiplicity kept") {
    val fact = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("a", 5L))
      .toDF("k", "id")
    val dim = Seq(("a", "A"), ("b", "B"), ("c", "C")).toDF("k", "tag")
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), salt = 4)
      .select("k", "id", "tag").as[(String, Long, String)].collect().sorted
    val plain = fact.join(dim, Seq("k"))
      .select("k", "id", "tag").as[(String, Long, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 5) // every fact row matched exactly once
  }

  test("winsorize: clips to rounded per-group fences, keeps all rows") {
    val df = (1 to 100).map(i => ("a", i.toLong, i.toDouble))
      .toDF("k", "id", "value")
    val out = Stats.winsorize(df, Seq("k"), "value", pLo = 0.05, pHi = 0.95)
      .select("id", "fence_lo", "fence_hi", "value_w")
      .as[(Long, Double, Double, Double)].collect()
    assert(out.length == 100)                        // no rows dropped
    // exact percentile at rank (n-1)p: p05 -> 5.95, p95 -> 95.05
    assert(out.forall { case (_, lo, hi, _) => lo == 5.95 && hi == 95.05 })
    val byId = out.map(t => t._1 -> t._4).toMap
    assert(byId(1L) == 5.95 && byId(3L) == 5.95)     // clipped up
    assert(byId(50L) == 50.0)                        // untouched
    assert(byId(100L) == 95.05)                      // clipped down
  }

  test("rollingCorr: perfect correlation in-frame, null for n=1") {
    val df = Seq(("a", 1L, 1.0, 2.0), ("a", 2L, 2.0, 4.0),
        ("a", 3L, 3.0, 6.0))
      .toDF("k", "id", "x", "y")
    val out = WindowAnalytics.rollingCorr(df, "k", Seq("id"), "x", "y",
        Seq(3))
      .select("id", "corr_3").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).isEmpty)                          // single-point frame
    assert(out(2L).contains(1.0) && out(3L).contains(1.0)) // y = 2x exactly
  }

  test("modePerGroup: highest count wins, smallest value breaks ties") {
    val df = Seq(("a", 7L), ("a", 7L), ("a", 3L), ("a", 9L), ("a", 9L),
        ("b", 1L))
      .toDF("k", "v")
    val out = Stats.modePerGroup(df, Seq("k"), "v")
      .select("k", "mode_value", "mode_n", "n_distinct")
      .as[(String, Long, Long, Long)].collect().toSet
    // a: 7 and 9 both count 2 -> smaller value 7 wins; 3 distinct values
    assert(out == Set(("a", 7L, 2L, 3L), ("b", 1L, 1L, 1L)))
  }

  test("modePerGroup: string (categorical) values work under ANSI") {
    val df = Seq(("a", "click"), ("a", "click"), ("a", "view"),
        ("a", "buy"), ("a", "buy")).toDF("k", "cat")
    val out = Stats.modePerGroup(df, Seq("k"), "cat")
      .select("k", "mode_value", "mode_n", "n_distinct")
      .as[(String, String, Long, Long)].collect().toSet
    // buy and click tie at 2 -> lexicographically smaller "buy" wins
    assert(out == Set(("a", "buy", 2L, 3L)))
  }

  test("edge fixes: null winsorize, all-null percentile group, histogram overflow") {
    // winsorize must preserve NULL, not fabricate the low fence
    val w = Stats.winsorize(
        (Seq(("a", 1L, Some(1.0)), ("a", 2L, Some(2.0)), ("a", 3L, Some(3.0)),
          ("a", 4L, None)): Seq[(String, Long, Option[Double])])
          .toDF("k", "id", "value"),
        Seq("k"), "value", pLo = 0.25, pHi = 0.75)
      .select("id", "value_w").as[(Long, Option[Double])].collect().toMap
    assert(w(4L).isEmpty)
    // exactPercentiles must keep a group whose values are all NULL
    val p = Stats.exactPercentiles(
        (Seq(("a", Some(1.0)), ("b", None), ("b", None))
          : Seq[(String, Option[Double])]).toDF("k", "value"),
        Seq("k"), "value", Seq(0.5))
      .select("k", "value_q", "n")
      .as[(String, Option[Double], Long)].collect().toSet
    assert(p.contains(("b", None, 2L)))
    // histogram must clamp an extreme outlier, not overflow the int cast
    val h = Stats.histogram(Seq(("a", 1e12), ("a", -1e12), ("a", 5.0))
        .toDF("k", "value"), Seq("k"), "value", lo = 0.0, hi = 10.0,
        nbins = 10)
      .select("bin", "n").as[(Int, Long)].collect().toSet
    assert(h == Set((9, 1L), (0, 1L), (5, 1L)))
  }

  test("capPerGroup: keeps best n per group with deterministic tiebreak") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 5L),
      ("b", 5L, 1L))
      .toDF("src", "id", "score")
    val out = Curate.capPerGroup(df, Seq("src"),
        Seq($"score".desc, $"id"), n = 2)
      .select("src", "id", "rank_in_group")
      .as[(String, Long, Int)].collect().toSet
    // a: 30s win, tie broken by id asc -> ids 2,3; b: lone row survives
    assert(out == Set(("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1)))
  }

  test("globalSortIndex: matches a single-partition md5 sort, contiguous") {
    val ids = (0L until 500L)
    val df = ids.toDF("id")
    val got = Curate.globalSortIndex(df, $"id", seed = "s1")
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = ids.sortBy(i => md5hex(s"${i}s1")).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got == expected)
    // positions are a contiguous 1..n permutation
    assert(got.values.toSeq.sorted == (1L to 500L))
  }

  test("hllSketches: stored binary sketches union to the whole-corpus estimate") {
    val df = (1 to 300).map(i => (s"g${i % 3}", i.toLong % 97))
      .toDF("g", "uid")
    val sketches = graft.ops.Dedup.hllSketches(df, Seq("g"), "uid")
    // one storable binary sketch per group + its row count
    assert(sketches.schema("hll_sketch").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(sketches.count() == 3)
    val merged = graft.ops.Dedup.hllMergedDistinct(sketches).collect()(0)
    assert(merged.getAs[Long]("n_rows") == 300L)
    // merging the per-group sketches must equal sketching the whole corpus
    // (HLL registers are max-based: union is exact over sketches)
    val whole = df.agg(
      hll_sketch_estimate(hll_sketch_agg(col("uid"), 12)).as("est"))
      .collect()(0).getAs[Long]("est")
    assert(merged.getAs[Long]("n_distinct_est") == whole)
    // 97 distinct values: estimate must be within the 5-sigma bound
    assert(math.abs(merged.getAs[Long]("n_distinct_est") - 97L) <= 8)
  }

  test("thetaSketches: set algebra on stored sketches is exact below 2^lgK") {
    // A = {0..199}, B = {100..299}: |A∩B| = 100, |A\B| = 100, |A∪B| = 300
    val df = ((0 until 200).map(i => ("a", i.toLong))
      ++ (100 until 300).map(i => ("b", i.toLong))).toDF("seg", "uid")
    val sk = graft.ops.Dedup.thetaSketches(df, Seq("seg"), "uid")
    val paired = sk.agg(
      min_by(col("theta_sketch"), col("seg")).as("ska"),
      max_by(col("theta_sketch"), col("seg")).as("skb"))
    val r = graft.ops.Dedup.thetaAlgebra(paired, col("ska"), col("skb"))
      .collect()(0)
    // both sets fit in the sketch (exact mode) -> estimates are exact
    assert(r.getAs[Long]("n_union_est") == 300L)
    assert(r.getAs[Long]("n_inter_est") == 100L)
    assert(r.getAs[Long]("n_diff_est") == 100L)
  }

  test("olsTwoFeature recovers exact planted coefficients; singular -> NULL") {
    // y = 2 + 3*x1 - x2 exactly, non-collinear design -> exact recovery
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (2.0, 3.0), (5.0, 1.0))
    val df = pts.map { case (a, b) => ("g", a, b, 2.0 + 3.0 * a - b) }
      .toDF("k", "x1", "x2", "y")
    val r = graft.ops.Stats.olsTwoFeature(df, Seq("k"), "y", "x1", "x2")
      .collect()(0)
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("b0") == 2.0)
    assert(r.getAs[Double]("b1") == 3.0)
    assert(r.getAs[Double]("b2") == -1.0)
    assert(r.getAs[Double]("r2") == 1.0)   // exact fit -> SSE 0
    // collinear features (x2 = 2*x1) -> det 0 -> NULL coefficients
    val sing = (1 to 5).map(i => ("g", i.toDouble, 2.0 * i, i.toDouble))
      .toDF("k", "x1", "x2", "y")
    val rs = graft.ops.Stats.olsTwoFeature(sing, Seq("k"), "y", "x1", "x2")
      .collect()(0)
    assert(rs.isNullAt(rs.fieldIndex("b1")))
  }

  test("balanceBy: rarest group kept whole, dominant group sampled to target") {
    val df = ((1 to 400).map(i => (i.toLong, "a"))
      ++ (401 to 500).map(i => (i.toLong, "b"))).toDF("id", "g")
    // target 50/50 on a 400/100 corpus: M = min(400/.5, 100/.5) = 200,
    // keep-rates a = 0.25, b = 1.0 (rarest group never loses a row)
    val out = graft.ops.Curate.balanceBy(df, "g", col("id"),
      Map("a" -> 0.5, "b" -> 0.5))
    val byG = out.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG("b") == 100L, "rarest group must be kept whole")
    // hash-threshold draw at rate 0.25 over 400 rows: allow 5-sigma noise
    assert(math.abs(byG("a") - 100L) <= 45, s"a kept ${byG("a")}, want ~100")
    // deterministic: the same inputs reproduce the same subset
    val again = graft.ops.Curate.balanceBy(df, "g", col("id"),
      Map("a" -> 0.5, "b" -> 0.5))
    assert(out.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
    // groups with zero/absent target drop
    val dropped = graft.ops.Curate.balanceBy(df, "g", col("id"),
      Map("a" -> 1.0))
    assert(dropped.filter($"g" === "b").count() == 0)
    // non-dyadic targets: (min(n/t))*t/n can land one ulp below 1.0 for
    // the argmin group (here a: 400/0.9 < 100/0.1) — the keep-all
    // tolerance must still keep it whole
    val nd = graft.ops.Curate.balanceBy(df, "g", col("id"),
      Map("a" -> 0.9, "b" -> 0.1))
    assert(nd.filter($"g" === "a").count() == 400L,
      "argmin group lost rows to an ulp")
  }

  test("Funnel: strictly-after gating, skipped stages don't count, cohort retention") {
    def t(s: String) = s"2024-01-0$s 00:00:00"
    val df = Seq(
      ("u1", t("1"), "view"), ("u1", t("2"), "click"),
      ("u1", t("2"), "purchase"),               // same ts as click -> no
      ("u1", t("3"), "purchase"),               // strictly after -> yes
      ("u2", t("2"), "view"), ("u2", t("2"), "click"), // tie -> not advanced
      ("u2", t("4"), "purchase"),               // purchase without click -> no
      ("u3", t("1"), "click"), ("u3", t("2"), "purchase")) // never viewed
      .toDF("user_id", "ts", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))
    val funnel = graft.ops.Funnel.funnelCounts(df, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("stage_idx")
      .select("stage", "n_users").as[(String, Long)].collect().toSeq
    assert(funnel == Seq("view" -> 2L, "click" -> 1L, "purchase" -> 1L))

    val ret = graft.ops.Funnel.retentionCohorts(df, "user_id", "ts")
      .select(col("cohort_date").cast("string"), col("day_offset"),
        col("n_users"))
      .as[(String, Int, Long)].collect().toSet
    // u1,u2 cohort Jan 1? u1 first day = 01, u2 = 02, u3 = 01
    assert(ret == Set(
      ("2024-01-01", 0, 2L),   // u1 + u3 first seen Jan 1
      ("2024-01-01", 1, 2L),   // both active Jan 2
      ("2024-01-01", 2, 1L),   // u1 active Jan 3
      ("2024-01-02", 0, 1L),   // u2 cohort
      ("2024-01-02", 2, 1L)))  // u2 active Jan 4
  }

  test("Funnel.topPaths: session break, maxLen truncation, deterministic order") {
    def t(m: Int) = f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00"
    val df = Seq(
      // u1 session 1: a>b>c>d -> path truncates to a>b>c
      ("u1", t(0), 1L, "a"), ("u1", t(1), 2L, "b"),
      ("u1", t(2), 3L, "c"), ("u1", t(3), 4L, "d"),
      // gap 45 min -> u1 session 2: a>b
      ("u1", t(48), 5L, "a"), ("u1", t(49), 6L, "b"),
      // u2 one session: a>b
      ("u2", t(0), 7L, "a"), ("u2", t(5), 8L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))
    val paths = graft.ops.Funnel.topPaths(df, "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30, maxLen = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    // count-desc, path-asc total order; truncation and the session break
    assert(paths == Seq(("a>b", 2L), ("a>b>c", 1L)))
  }

  test("Funnel.transitionMatrix: per-user ordered transitions, row-normalized") {
    def t(s: String) = s"2024-01-0$s 00:00:00"
    // u1: a->b->a ; u2: a->b ; transitions: a->b x2, b->a x1
    val df = Seq(
      ("u1", t("1"), 1L, "a"), ("u1", t("2"), 2L, "b"),
      ("u1", t("3"), 3L, "a"),
      ("u2", t("1"), 4L, "a"), ("u2", t("2"), 5L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))
    val m = graft.ops.Funnel.transitionMatrix(df, "user_id",
        Seq("ts", "event_id"), "event_type")
      .select("from_type", "to_type", "n", "p")
      .as[(String, String, Long, Double)].collect().toSet
    assert(m == Set(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
    // the last event of each user emits no transition; no cross-user leak
    assert(!m.exists { case (f, to, _, _) => f == "b" && to == "b" })
  }

  test("Curate.negativePairs: k slots per anchor, never self, deterministic") {
    val docs = (0L until 37L).toDF("doc_id")
    val pairs = graft.ops.Curate.negativePairs(docs, "doc_id", k = 4)
      .as[(Long, Int, Long)].collect()
    assert(pairs.length == 37 * 4)
    assert(pairs.forall { case (a, _, n) => a != n }, "self-negative leaked")
    val byAnchor = pairs.groupBy(_._1)
    assert(byAnchor.size == 37 &&
      byAnchor.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4)))
    // negatives land in the valid id space and the draw is reproducible
    assert(pairs.forall { case (_, _, n) => n >= 0L && n < 37L })
    val again = graft.ops.Curate.negativePairs(docs, "doc_id", k = 4)
      .as[(Long, Int, Long)].collect()
    assert(pairs.toSet == again.toSet)
    // a different seed permutes the draw
    val other = graft.ops.Curate.negativePairs(docs, "doc_id", k = 4,
      seed = "neg2").as[(Long, Int, Long)].collect()
    assert(other.toSet != pairs.toSet)
    // single-row corpus: no valid negative exists -> zero rows, never self
    val one = graft.ops.Curate.negativePairs(Seq(7L).toDF("doc_id"),
      "doc_id", k = 4)
    assert(one.isEmpty)
  }

  test("Graph.pageRankFixedPoint: exact longs on star and triangle; co-occurrence cap") {
    // triangle (2-regular): contributions balance, score stays at scale
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2")
    val st = graft.ops.Graph.pageRankFixedPoint(tri, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(st == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
    // star 0-{1,2,3} after ONE iteration, hand-computed fixed-point:
    // hub: 150e6 + (17 * 3e9) DIV 20 = 2.7e9
    // leaf: 150e6 + (17 * (1e9 DIV 3)) DIV 20 = 433333333
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id1", "id2")
    val s1 = graft.ops.Graph.pageRankFixedPoint(star, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(s1(0L) == 2700000000L)
    assert(Seq(1L, 2L, 3L).forall(s1(_) == 433333333L))
    // co-occurrence: group of 3 -> 3 pairs; oversized group dropped
    val baskets = (Seq(("o1", 10L), ("o1", 11L), ("o1", 12L)) ++
      (1L to 50L).map(i => ("big", 100L + i))).toDF("g", "item")
    val edges = graft.ops.Graph.coOccurrenceEdges(baskets, "g", "item",
      maxGroupSize = 10).as[(Long, Long)].collect().toSet
    assert(edges == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // weighted: pair multiplicity counts groups, not rows
    val wb = Seq(("o1", 1L), ("o1", 2L), ("o2", 1L), ("o2", 2L),
      ("o3", 1L), ("o3", 3L)).toDF("g", "item")
    val we = graft.ops.Graph.coOccurrenceEdgesWeighted(wb, "g", "item")
      .as[(Long, Long, Long)].collect().toSet
    assert(we == Set((1L, 2L, 2L), (1L, 3L, 1L)))
    // weighted rank: the strong edge pulls more mass — on path 2-1-3
    // with w(1,2)=2, w(1,3)=1, node 2 must outrank node 3 after 1 iter
    val wpr = graft.ops.Graph.pageRankWeightedFixedPoint(
      Seq((1L, 2L, 2L), (1L, 3L, 1L)).toDF("id1", "id2", "w"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(wpr(2L) > wpr(3L))
    // uniform weights reduce to the unweighted recurrence exactly
    val uni = graft.ops.Graph.pageRankWeightedFixedPoint(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)).toDF("id1", "id2", "w"),
      iters = 4).as[(Long, Long)].collect().toMap
    assert(uni == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
  }

  test("Graph ops reject non-canonical pairs loudly (guarded contract)") {
    // symmetrization skips its dedup pass under the documented
    // coOccurrenceEdges contract; the runtime guard must FAIL — not
    // silently double-count — on reversed duplicates and self-loops
    val reversed = Seq((1L, 2L), (2L, 1L)).toDF("id1", "id2")
    val selfLoop = Seq((1L, 1L), (1L, 2L)).toDF("id1", "id2")
    intercept[Exception] {
      graft.ops.Graph.pageRankFixedPoint(reversed, iters = 1).collect()
    }
    intercept[Exception] {
      graft.ops.Graph.labelPropagation(selfLoop, iters = 1).collect()
    }
    // canonical input is untouched by the guard
    val ok = graft.ops.Graph.labelPropagation(
      Seq((1L, 2L)).toDF("id1", "id2"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(ok == Map(1L -> 2L, 2L -> 1L))
    // EXACT duplicates of a canonical pair pass the guard but must count
    // ONCE: a triangle with one edge listed twice still balances (every
    // node keeps exactly scale mass) instead of double-counting degrees
    val dupTri = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("id1", "id2")
    val dupScores = graft.ops.Graph.pageRankFixedPoint(dupTri, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(dupScores == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
    // same for LPA votes: duplicated edge must not sway the argmax
    val dupLpa = graft.ops.Graph.labelPropagation(dupTri, iters = 1)
      .as[(Long, Long)].collect().toMap
    val cleanLpa = graft.ops.Graph.labelPropagation(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(dupLpa == cleanLpa)
  }

  test("Graph retainCache=false releases loop caches, result unchanged") {
    // the advisory failure mode: a long-lived driver scoring MANY distinct
    // graphs accumulates plan-keyed edge/id caches without bound. The
    // opt-out must leave NO new cache-manager entries behind (the result
    // survives via an eager localCheckpoint, which lives outside the SQL
    // cache and is dropped by the ContextCleaner on GC).
    def cachedPlans: Set[String] = {
      val cm = spark.sharedState.cacheManager
      val acc = cm.getClass.getDeclaredMethod("cachedData")
      acc.setAccessible(true)
      acc.invoke(cm)
        .asInstanceOf[scala.collection.immutable.IndexedSeq[
          org.apache.spark.sql.execution.CachedData]]
        .map(_.plan.toString).toSet
    }
    val before = cachedPlans
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2")
    val st = graft.ops.Graph
      .pageRankFixedPoint(tri, iters = 2, retainCache = false)
      .as[(Long, Long)].collect().toMap
    assert(st == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
    val lpa = graft.ops.Graph
      .labelPropagation(tri, iters = 1, retainCache = false)
      .as[(Long, Long)].collect().toMap
    assert(lpa.keySet == Set(1L, 2L, 3L))
    val ts = graft.ops.Graph.triangleStats(tri, retainCache = false)
    assert(ts.count() == 3)
    // only NEW entries from the graph loops count (same-suite earlier
    // tests legitimately retain theirs under the default policy)
    val leaked = (cachedPlans -- before).filter(p =>
      (p.contains("src") && p.contains("dst")) ||
        (p.contains("lo") && p.contains("hi")))
    assert(leaked.isEmpty,
      s"retainCache=false left graph loop caches:\n${leaked.mkString("\n")}")
  }

  test("Stats.madOutliers: robust to the outlier that inflates IQR sigma") {
    // 9 points tightly at 10 +/- 1, one wild point at 1000: median 10,
    // MAD 1 -> fences [10 - 3, 10 + 3] at k=3, exactly one outlier
    val vals = Seq(9.0, 9.0, 10.0, 10.0, 10.0, 10.0, 11.0, 11.0, 9.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("grp", "id", "value")
    val r = graft.ops.Stats.madOutliers(df, Seq("grp"), "value", k = 3.0)
      .select("med", "mad", "lo", "hi", "n", "n_outliers")
      .as[(Double, Double, Double, Double, Long, Long)].collect()(0)
    assert(r == ((10.0, 1.0, 7.0, 13.0, 10L, 1L)))
    // zero-MAD group (constant values): fences collapse to the median,
    // nothing flagged
    val const = Seq.fill(5)(5.0).zipWithIndex
      .map { case (v, i) => ("c", i.toLong, v) }.toDF("grp", "id", "value")
    val rc = graft.ops.Stats.madOutliers(const, Seq("grp"), "value")
      .select("mad", "n_outliers").as[(Double, Long)].collect()(0)
    assert(rc == ((0.0, 0L)))
  }

  test("VersionedTable.restore: zero-copy rollback, txn state survives, vacuum-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft_restore")
      .toString + "/table"
    val keys = Seq("id", "day")
    def rows() = VersionedTable.read(spark, root)
      .select($"id", $"val").as[(Int, String)].collect().toMap
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d2", "b")).toDF("id", "day", "val"),
      keys, Seq("day"))                                         // v0
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "BAD"), (3, "d3", "x")).toDF("id", "day", "val"),
      keys, Seq("day"), txn = Some(("s1", 7L)))                 // v1
    val restored = VersionedTable.restore(spark, root, 0)       // v2
    assert(restored == 2)
    assert(rows() == Map(1 -> "a", 2 -> "b")) // v0 content is current again
    // history append-only: the bad version stays time-travel readable
    assert(VersionedTable.read(spark, root, Some(1))
      .filter($"val" === "BAD").count() == 1)
    // restore undoes DATA, not exactly-once state: the stream's watermark
    // must survive or a replayed batch would double-apply
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(7L))
    // a replayed (s1, 7) upsert after restore is a no-op
    VersionedTable.upsert(spark, root,
      Seq((9, "d9", "dup")).toDF("id", "day", "val"), keys, Seq("day"),
      txn = Some(("s1", 7L)))
    assert(rows() == Map(1 -> "a", 2 -> "b"))
    // vacuum keeps the generations the RESTORED manifest references
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(rows() == Map(1 -> "a", 2 -> "b"))
  }

  test("VersionedTable.fastCount: metadata-only counts, carry, old shapes refused") {
    val root = java.nio.file.Files.createTempDirectory("graft_fastcount")
      .toString + "/table"
    val keys = Seq("id", "day")
    def check(): Unit = {
      val fc = VersionedTable.fastCount(spark, root)
      assert(fc.contains(VersionedTable.read(spark, root).count()))
    }
    VersionedTable.upsert(spark, root,
      (1 to 100).map(i => (i, s"d${i % 4}", i.toLong)).toDF("id", "day", "v"),
      keys, Seq("day"))
    check() // fresh build: every dir counted
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", 999L), (200, "d1", 5L)).toDF("id", "day", "v"),
      keys, Seq("day"))
    check() // rewritten dir recounted, untouched dirs carried
    VersionedTable.deleteWhere(spark, root, "v", 1L, 30L)
    check() // delete rewrites + drops reflected
    VersionedTable.compact(spark, root)
    check() // full rewrite recounted
    // the reader accepts only what the current writer writes: an older
    // header, an inline file-index line, or a mapped dir missing any of
    // its per-dir lines fails the read loudly, never a wrong count
    val cur = VersionedTable.currentVersion(spark, root).get
    val mp = new org.apache.hadoop.fs.Path(root, s"_manifest.$cur")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(mp)),
      java.nio.charset.StandardCharsets.UTF_8)
    def writeManifest(lines: Seq[String]): Unit = {
      fs.delete(mp, false)
      val out = fs.create(mp, false)
      out.write(lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    val lines = txt.split("\n").toSeq
    val inline = "\tZ2VuMC9kYXk9ZDEvZg==\tdg=="
    val shapes = Seq("#dirrows", "#dirfiles", "#dirbytes", "#dirver").map(
        tag => s"no $tag" -> lines.filterNot(_.startsWith(tag + "\t"))) ++
      Seq(
        "v2 header" -> ("#graft-manifest\t2" +: lines.tail),
        "inline #filestat" ->
          (lines :+ s"#filestat$inline\t-\t-\t0\t-"),
        "inline #filebloom" -> (lines :+ s"#filebloom$inline\tAAAA"),
        "inline #filebloomref" ->
          (lines :+ s"#filebloomref$inline\t_bloomx.0\t0\t8"))
    shapes.foreach { case (what, shape) =>
      writeManifest(shape)
      val e = intercept[IllegalArgumentException] {
        VersionedTable.fastCount(spark, root)
      }
      assert(e.getMessage.contains("unrecognized manifest format"),
        s"$what: ${e.getMessage}")
    }
    writeManifest(lines)
    check() // the untouched manifest still reads
  }

  test("VersionedTable.fastMinMax: typed metadata min/max, provable coverage only") {
    val root = java.nio.file.Files.createTempDirectory("graft_fastmm")
      .toString + "/table"
    val keys = Seq("id", "day")
    val rows = Seq(
      (1, "d1", java.sql.Date.valueOf("2024-03-01"), 1.5f, "apple"),
      (2, "d1", java.sql.Date.valueOf("2024-01-15"), Float.NaN, "pear"),
      (3, "d2", null.asInstanceOf[java.sql.Date], -2.5f, "fig"),
      (4, "d2", null.asInstanceOf[java.sql.Date], 0.25f, "zebra"))
      .toDF("id", "day", "d", "f", "s")
    VersionedTable.upsert(spark, root, rows, keys, Seq("day"),
      statsCols = Seq("d", "f", "s"))
    // dates parse back from epoch-day; the all-null d2 files count toward
    // coverage and contribute nothing
    assert(VersionedTable.fastMinMax(spark, root, "d").contains(
      (java.sql.Date.valueOf("2024-01-15"),
        java.sql.Date.valueOf("2024-03-01"))))
    // float NaN is greatest, exactly the aggregate's ordering
    val Some((fLo, fHi)) = VersionedTable.fastMinMax(spark, root, "f")
    assert(fLo == -2.5f && fHi.asInstanceOf[Float].isNaN)
    assert(VersionedTable.fastMinMax(spark, root, "s")
      .contains(("apple", "zebra")))
    // answers must equal the aggregate scan
    val agg = VersionedTable.read(spark, root)
      .agg(min($"d"), max($"d"), min($"s"), max($"s")).collect()(0)
    assert(agg.getDate(0) == java.sql.Date.valueOf("2024-01-15"))
    assert(agg.getString(3) == "zebra")
    // unindexed column and partition column: None, never a guess
    assert(VersionedTable.fastMinMax(spark, root, "id").isEmpty)
    assert(VersionedTable.fastMinMax(spark, root, "day").isEmpty)
    // a manifest whose dir lost its file count (the coverage proof) is
    // not a shape the writer emits: the read fails, never a guess
    val cur = VersionedTable.currentVersion(spark, root).get
    val mp = new org.apache.hadoop.fs.Path(root, s"_manifest.$cur")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(mp)),
      java.nio.charset.StandardCharsets.UTF_8)
    fs.delete(mp, false)
    val out = fs.create(mp, false)
    out.write(txt.split("\n").filterNot(_.startsWith("#dirfiles"))
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val e = intercept[IllegalArgumentException] {
      VersionedTable.fastMinMax(spark, root, "s")
    }
    assert(e.getMessage.contains("unrecognized manifest format"))
  }

  test("VersionedTable add/dropColumn: metadata-only DDL, old files project through") {
    import org.apache.spark.sql.types.LongType
    val root = java.nio.file.Files.createTempDirectory("graft_ddl")
      .toString + "/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d2", "b")).toDF("id", "day", "val"),
      keys, Seq("day"))
    VersionedTable.addColumn(spark, root, "score", LongType)
    // existing rows surface NULL for the new column, no data rewrite
    val withNew = VersionedTable.read(spark, root)
    assert(withNew.columns.contains("score"))
    assert(withNew.filter($"score".isNull).count() == 2)
    // next upsert writes real values; old rows stay null
    VersionedTable.upsert(spark, root,
      Seq((3, "d3", "c", 9L)).toDF("id", "day", "val", "score"),
      keys, Seq("day"))
    val m = VersionedTable.read(spark, root)
      .select($"id", $"score").as[(Int, Option[Long])].collect().toMap
    assert(m == Map(1 -> None, 2 -> None, 3 -> Some(9L)))
    // drop: the column disappears from scans without touching data
    VersionedTable.dropColumn(spark, root, "score")
    assert(!VersionedTable.read(spark, root).columns.contains("score"))
    assert(VersionedTable.read(spark, root).count() == 3)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, "day") // partition column
    }
    // the dropped column's bytes are still in v-1's files: time travel
    // to before the drop still reads it
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.read(spark, root, Some(cur - 1))
      .filter($"score" === 9L).count() == 1)
  }

  test("ADD COLUMN DEFAULT: pre-add generations surface the default, " +
      "post-add explicit values (incl. NULL) win, INSERT fills omission, " +
      "DROP DEFAULT clears, rewrites materialize") {
    import org.apache.spark.sql.types.StringType
    val root = java.nio.file.Files.createTempDirectory("graft_dflt")
      .toString + "/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d2", "b")).toDF("id", "day", "val"),
      keys, Seq("day"))
    // a default referencing a column refuses; a bad cast refuses at DDL
    intercept[IllegalArgumentException](
      VersionedTable.addColumn(spark, root, "src", StringType,
        Some("val")))
    VersionedTable.addColumn(spark, root, "src", StringType,
      Some("'legacy'"))
    def srcOf(): Map[Int, Option[String]] =
      VersionedTable.read(spark, root).select($"id", $"src")
        .as[(Int, Option[String])].collect().toMap
    // pre-add rows serve the default, not NULL
    assert(srcOf() == Map(1 -> Some("legacy"), 2 -> Some("legacy")))
    // post-add writes: explicit value AND explicit NULL both win
    VersionedTable.upsert(spark, root,
      Seq((3, "d3", "c", Some("new")), (4, "d1", "d", None))
        .toDF("id", "day", "val", "src"),
      keys, Seq("day"))
    assert(srcOf() == Map(1 -> Some("legacy"), 2 -> Some("legacy"),
      3 -> Some("new"), 4 -> None))
    // SQL INSERT omitting the column fills the WRITE default; SET
    // DEFAULT changes it for later INSERTs without touching pre-add rows
    spark.sql(s"INSERT INTO graft.`$root` (id, day, val) " +
      "SELECT 5, 'd3', 'e'")
    assert(srcOf()(5).contains("legacy"))
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN src " +
      "SET DEFAULT 'v2'")
    spark.sql(s"INSERT INTO graft.`$root` (id, day, val) " +
      "SELECT 6, 'd3', 'f'")
    assert(srcOf()(6).contains("v2") && srcOf()(1).contains("legacy"))
    // a rewrite MATERIALIZES the default into the touched dir's files:
    // row 1 (d1) rewrote alongside the partition-scoped delete; d2's
    // untouched pre-add generation still serves through the read path
    VersionedTable.deleteMatching(spark, root,
      $"day" === "d1" && $"id" === 4)
    assert(srcOf()(1).contains("legacy") && srcOf()(2).contains("legacy"))
    // DROP DEFAULT clears: pre-add rows in UNREWRITTEN generations
    // revert to NULL; materialized ones keep their stored bytes
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN src DROP DEFAULT")
    val after = srcOf()
    assert(after(2).isEmpty, "unrewritten pre-add row kept the default")
    assert(after(1).contains("legacy"),
      "materialized row lost its stored value")
    assert(after(3).contains("new") && after(6).contains("v2"))
    // ... and INSERT omission now refuses again
    intercept[IllegalArgumentException](spark.sql(
      s"INSERT INTO graft.`$root` (id, day, val) SELECT 7, 'd1', 'g'"))
    // time travel: the pre-drop version still serves the default
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.read(spark, root, Some(cur - 1))
      .filter($"id" === 2).select($"src").as[Option[String]]
      .head().contains("legacy"))
  }

  test("column defaults: DV deletes see the defaulted value, and a " +
      "non-constant initial default is FROZEN at ADD time") {
    import org.apache.spark.sql.types.{StringType, TimestampType}
    val root = java.nio.file.Files.createTempDirectory("graft_dflt2")
      .toString + "/table"
    VersionedTable.upsert(spark, root,
      Seq((1, "d1", "a"), (2, "d2", "b")).toDF("id", "day", "val"),
      Seq("id", "day"), Seq("day"))
    VersionedTable.addColumn(spark, root, "src", StringType,
      Some("'legacy'"))
    // merge-on-read delete by the DEFAULTED value: the predicate must
    // see what a read serves ('legacy'), not the physical NULL
    VersionedTable.deleteMatchingDV(spark, root,
      $"src" === "legacy" && $"id" === 1, maxDeleteRows = 10)
    assert(VersionedTable.read(spark, root).select($"id").as[Int]
      .collect().toSet == Set(2))
    // ... and an IS NULL DV delete must NOT hit defaulted rows
    VersionedTable.deleteMatchingDV(spark, root, $"src".isNull,
      maxDeleteRows = 10)
    assert(VersionedTable.read(spark, root).count() == 1)
    // a non-constant default freezes to ONE value at ADD: two reads
    // agree, and a pre-add row equals the frozen instant, not "now"
    VersionedTable.addColumn(spark, root, "seen", TimestampType,
      Some("current_timestamp()"))
    val r1 = VersionedTable.read(spark, root).select($"seen")
      .as[java.sql.Timestamp].head()
    Thread.sleep(50)
    val r2 = VersionedTable.read(spark, root).select($"seen")
      .as[java.sql.Timestamp].head()
    assert(r1 == r2, s"initial default re-evaluated: $r1 vs $r2")
  }

  test("VersionedTable.renameColumn: metadata-only, index/constraint " +
      "continuity, time travel, physical-name guards") {
    val root = java.nio.file.Files.createTempDirectory("graft_ren")
      .toString + "/table"
    val keys = Seq("id", "day")
    val rows = (0 until 200).map(i => (i, s"d${i % 4}", i % 50, i.toLong))
    VersionedTable.upsert(spark, root, rows.toDF("id", "day", "v", "w"),
      keys, Seq("day"), statsCols = Seq("v"), bloomCols = Seq("w"),
      fileRows = Some(10))
    VersionedTable.addConstraint(spark, root, "v_nonneg", "v >= 0")
    VersionedTable.renameColumn(spark, root, "v", "score") // -> v1... v2
    // data surfaces under the new name, values intact, no rewrite
    val renamed = VersionedTable.read(spark, root)
    assert(renamed.columns.toSeq == Seq("id", "day", "score", "w"))
    assert(renamed.select($"id", $"score").as[(Int, Int)].collect().toMap
      == rows.map(r => r._1 -> r._3).toMap)
    // stats continuity: the renamed column still prunes files
    val (k1, t1) = VersionedTable.skipStats(spark, root, "score", 0, 5)
    assert(k1 < t1, s"renamed-column stats stopped pruning: $k1/$t1")
    // the prior version still reads under the name IT recorded
    val vRen = VersionedTable.currentVersion(spark, root).get
    val old = VersionedTable.read(spark, root, Some(vRen - 1))
    assert(old.columns.contains("v") && !old.columns.contains("score"))
    // writes AFTER the rename use the logical name; reads mix old and
    // new generations correctly (both store the frozen physical name)
    VersionedTable.upsert(spark, root,
      Seq((1000, "d0", 7, 99L), (0, "d0", 49, 0L))
        .toDF("id", "day", "score", "w"), keys, Seq("day"))
    val mixed = VersionedTable.read(spark, root)
      .select($"id", $"score").as[(Int, Int)].collect().toMap
    assert(mixed(1000) == 7 && mixed(0) == 49 && mixed(1) == 1)
    assert(mixed.size == 201)
    // bloom continuity on the untouched column
    assert(VersionedTable.readWhereEq(spark, root, "w", 150L)
      .count() == 1)
    // the CHECK constraint carried to the new name and still gates
    val e = intercept[Exception] {
      VersionedTable.upsert(spark, root,
        Seq((2000, "d0", -5, 1L)).toDF("id", "day", "score", "w"),
        keys, Seq("day"))
    }
    assert(e.getMessage.contains("v_nonneg"))
    // guards: partition column, existing name, frozen physical name
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "day", "dt")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "w", "score")
    }
    intercept[IllegalArgumentException] { // physical name of score is v
      VersionedTable.addColumn(spark, root, "v",
        org.apache.spark.sql.types.LongType)
    }
    // rename back to the physical name ends the mapping cleanly
    VersionedTable.renameColumn(spark, root, "score", "v")
    assert(VersionedTable.read(spark, root).columns.contains("v"))
    VersionedTable.renameColumn(spark, root, "v", "score")
    // OPTIMIZE materializes the rename: files now store the logical
    // name, and a column named after the old physical name is legal
    VersionedTable.compact(spark, root, statsCols = Seq("score"),
      fileRows = Some(10))
    val (k2, t2) = VersionedTable.skipStats(spark, root, "score", 0, 5)
    assert(k2 < t2, s"stats stopped pruning after OPTIMIZE: $k2/$t2")
    VersionedTable.addColumn(spark, root, "v",
      org.apache.spark.sql.types.LongType) // no longer collides
    assert(VersionedTable.read(spark, root)
      .select($"id", $"score").as[(Int, Int)].collect().toMap == mixed)
    // full history still resolves: v0 under its own schema
    assert(VersionedTable.read(spark, root, Some(0))
      .columns.toSeq == Seq("id", "day", "v", "w"))
  }

  test("VersionedTable.compact zOrderCols: multi-dim skipping survives OPTIMIZE") {
    val root = java.nio.file.Files.createTempDirectory("graft_zcompact")
      .toString + "/table"
    // 64x64 grid, 2 rows per cell: x cycles fast, y slow — the shape
    // where a lexicographic (x, y) sort leaves y WIDE in every file
    val df = (0 until 8192)
      .map(i => (i, i % 64, (i / 64) % 64, "all"))
      .toDF("id", "x", "y", "grp")
    VersionedTable.upsert(spark, root, df, Seq("id", "grp"), Seq("grp"),
      statsCols = Seq("x", "y"), fileRows = Some(512))
    // lexicographic compact: x tight per file, y spans everything
    VersionedTable.compact(spark, root, statsCols = Seq("x", "y"),
      fileRows = Some(512))
    val (lexKeptY, lexTotal) = VersionedTable.skipStats(spark, root, "y", 10, 12)
    assert(lexKeptY == lexTotal) // y-range predicate prunes NOTHING
    // OPTIMIZE ZORDER BY (x, y): every file carries a tight 2-D box
    VersionedTable.compact(spark, root, statsCols = Seq("x", "y"),
      fileRows = Some(512), zOrderCols = Seq("x", "y"))
    val (zKeptY, zTotal) = VersionedTable.skipStats(spark, root, "y", 10, 12)
    val (zKeptX, _) = VersionedTable.skipStats(spark, root, "x", 10, 12)
    assert(zTotal >= 8) // the fixture actually split into many files
    assert(zKeptY * 2 <= zTotal, s"y-range kept $zKeptY of $zTotal")
    assert(zKeptX * 2 <= zTotal, s"x-range kept $zKeptX of $zTotal")
    // row-identical through both rewrites, residual filter exact
    assert(VersionedTable.read(spark, root).count() == 8192)
    assert(VersionedTable.readWhere(spark, root, "y", 10, 12).count()
      == 3 * 64 * 2)
    assert(VersionedTable.readWhere(spark, root, "x", 10, 12).count()
      == 3 * 64 * 2)
  }

  test("VersionedTable: concurrent disjoint-partition upserts both commit") {
    // the 500ms suite-wide claim wait is sized for wedged-claim tests;
    // a REAL winner is publishing here, so give the loser a real window
    val spark0 = spark // force SparkSpec init (sets the default prop)
    val saved = sys.props.getOrElse("graft.versioned.claimWaitMs", "500")
    sys.props("graft.versioned.claimWaitMs") = "30000"
    try {
      val root = java.nio.file.Files.createTempDirectory("graft_occ")
        .toString + "/table"
      val keys = Seq("id", "day")
      VersionedTable.upsert(spark, root,
        Seq((1, "2024-01-01", "a"), (2, "2024-01-02", "b"))
          .toDF("id", "day", "val"), keys, "day")
      // writer A stages v1 (claim HELD, touching only 2024-01-01) before
      // the loser even starts, so the loser deterministically loses the
      // claim and waits for A's commit marker
      val staged = VersionedTable.prepare(spark, root,
        Seq((1, "2024-01-01", "A2")).toDF("id", "day", "val"), keys,
        Seq("day"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val loser = Future {
        VersionedTable.upsert(spark, root,
          Seq((2, "2024-01-02", "B2")).toDF("id", "day", "val"), keys,
          Seq("day"))
      }
      Thread.sleep(300)
      VersionedTable.publish(spark, root, staged)
      Await.result(loser, 60.seconds)
      // serialized v1 (winner), v2 (loser); BOTH merges present
      assert(VersionedTable.history(spark, root) == Seq(0, 1, 2))
      val rows = VersionedTable.read(spark, root)
        .select($"id", $"val").as[(Int, String)].collect().toMap
      assert(rows == Map(1 -> "A2", 2 -> "B2"))

      // OVERLAPPING writers still fail loudly: winner stages on
      // 2024-01-01 (claim held first, again deterministic), the racing
      // upsert also writes 2024-01-01
      val staged2 = VersionedTable.prepare(spark, root,
        Seq((1, "2024-01-01", "A3")).toDF("id", "day", "val"), keys,
        Seq("day"))
      val conflicted = Future {
        VersionedTable.upsert(spark, root,
          Seq((3, "2024-01-01", "C"), (4, "2024-01-09", "d"))
            .toDF("id", "day", "val"), keys, Seq("day"))
      }
      Thread.sleep(300)
      VersionedTable.publish(spark, root, staged2)
      // Await.result rethrows the future's failure directly
      val err = intercept[VersionedTable.ConcurrentWriteConflictException] {
        Await.result(conflicted, 60.seconds)
      }
      assert(err.getMessage.contains("concurrent write conflict"))
      // the conflicted merge never half-landed: v3 is the winner's alone
      assert(VersionedTable.history(spark, root) == Seq(0, 1, 2, 3))
      assert(VersionedTable.read(spark, root)
        .filter($"id" === 3 || $"id" === 4).count() == 0)
    } finally sys.props("graft.versioned.claimWaitMs") = saved
  }

  test("VersionedTable: maintenance ops rerun declaratively after a lost claim") {
    val spark0 = spark // force SparkSpec init (sets the default prop)
    val saved = sys.props.getOrElse("graft.versioned.claimWaitMs", "500")
    sys.props("graft.versioned.claimWaitMs") = "30000"
    try {
      val root = java.nio.file.Files.createTempDirectory("graft_mretry")
        .toString + "/table"
      val keys = Seq("id", "day")
      VersionedTable.upsert(spark, root,
        (1 to 40).map(i => (i, s"d${i % 4}", i.toLong)).toDF("id", "day", "v"),
        keys, Seq("day"), statsCols = Seq("v"))
      // writer A holds the claim on v1; a racing deleteWhere must wait for
      // A's commit and then re-derive its file selection from A's version
      val staged = VersionedTable.prepare(spark, root,
        Seq((100, "d0", 7L)).toDF("id", "day", "v"), keys, Seq("day"),
        statsCols = Seq("v"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val deleter = Future {
        VersionedTable.deleteWhere(spark, root, "v", 1L, 10L)
      }
      Thread.sleep(300)
      VersionedTable.publish(spark, root, staged)
      val deletedAt = Await.result(deleter, 60.seconds)
      assert(deletedAt == 2) // serialized AFTER the winner
      // the delete saw the winner's row (v=7 in d0) and removed it too
      val vs = VersionedTable.read(spark, root)
        .select($"v").as[Long].collect().toSet
      assert(vs == (11L to 40L).toSet)
      assert(VersionedTable.history(spark, root) == Seq(0, 1, 2))
      // a metadata-only op re-derives too: setProperties waits out the
      // winner's claim and commits on top of it, carrying its rows
      val staged2 = VersionedTable.prepare(spark, root,
        Seq((101, "d1", 8L)).toDF("id", "day", "v"), keys, Seq("day"),
        statsCols = Seq("v"))
      val setter = Future {
        VersionedTable.setProperties(spark, root, Map("owner" -> "ops"))
      }
      Thread.sleep(300)
      VersionedTable.publish(spark, root, staged2)
      assert(Await.result(setter, 60.seconds) == 4)
      assert(VersionedTable.history(spark, root) == Seq(0, 1, 2, 3, 4))
      assert(VersionedTable.propertiesOf(spark, root) == Map("owner" -> "ops"))
      assert(VersionedTable.read(spark, root).filter($"id" === 101)
        .count() == 1)
    } finally sys.props("graft.versioned.claimWaitMs") = saved
  }

  test("VersionedTable: whole-table ops conflict loudly on a lost claim") {
    val root = java.nio.file.Files.createTempDirectory("graft_wholetable")
      .toString + "/table"
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "d0", 1L), (2, "d1", 2L)).toDF("id", "day", "v"), keys,
      Seq("day"))
    // each op races a writer whose claim is held: an overwrite, TRUNCATE
    // and REPLACE TABLE replace the whole table, so they never wait for
    // the winner or retry on top of it
    val ops: Seq[(String, () => Int)] = Seq(
      "truncate" -> (() => VersionedTable.truncate(spark, root)),
      "redefine" -> (() => VersionedTable.redefine(spark, root,
        Seq((0, "d", 0L)).toDF("id", "day", "v").schema, Seq("day"),
        keys)),
      "overwrite" -> (() => VersionedTable.overwrite(spark, root,
        Seq((9, "d9", 9L)).toDF("id", "day", "v"), keys, Seq("day"))))
    ops.zipWithIndex.foreach { case ((name, op), i) =>
      val winner = 10 + i
      val staged = VersionedTable.prepare(spark, root,
        Seq((winner, "d0", winner.toLong)).toDF("id", "day", "v"), keys,
        Seq("day"))
      val err = intercept[VersionedTable.ConcurrentWriteConflictException](
        op())
      assert(err.getMessage.contains("concurrent write conflict") &&
        err.getMessage.contains("cannot serialize around"), s"$name: $err")
      VersionedTable.publish(spark, root, staged)
      // history gained the winner's version only
      assert(VersionedTable.history(spark, root) == (0 to i + 1), name)
    }
    assert(VersionedTable.read(spark, root).select($"id").as[Int]
      .collect().toSet == Set(1, 2, 10, 11, 12))
  }

  test("VersionedTable.compactSmallFiles: only hot dirs rewrite, no-op burns nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_csf")
      .toString + "/table"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    val keys = Seq("id", "day")
    // d0 splinters into many small files (the small-files tax); d1 has
    // few rows and stays a single file
    VersionedTable.upsert(spark, root,
      (0 until 23).map(i => (i, if (i < 20) "d0" else "d1", i.toLong))
        .toDF("id", "day", "v"),
      keys, Seq("day"), statsCols = Seq("v"), fileRows = Some(5))
    (1 to 3).foreach { k =>
      VersionedTable.upsert(spark, root,
        Seq((100 + k, "d0", 100L + k)).toDF("id", "day", "v"),
        keys, Seq("day"), statsCols = Seq("v"), fileRows = Some(5))
    }
    val m = VersionedTable.read(spark, root)
    assert(m.count() == 26)
    def filesIn(rel: String): Map[String, Long] = {
      // (gen, file-count) of the dir's CURRENT mapping entry
      val cur = VersionedTable.currentVersion(spark, root).get
      val txt = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(new org.apache.hadoop.fs.Path(root, s"_manifest.$cur"))),
        java.nio.charset.StandardCharsets.UTF_8)
      val gen = txt.split("\n").filterNot(_.startsWith("#"))
        .map(_.split("\t")).collectFirst {
          case Array(r, g) if r == rel => g }.get
      val p = new org.apache.hadoop.fs.Path(s"$root/$gen/$rel")
      Map(gen -> fs.listStatus(p).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_")).toLong)
    }
    val d1Before = filesIn("day=d1")
    assert(filesIn("day=d0").values.sum >= 4) // hot
    // only d0 qualifies and rewrites; d1 keeps generation AND file count
    val v = VersionedTable.compactSmallFiles(spark, root, minFilesPerDir = 4)
    assert(v == VersionedTable.currentVersion(spark, root).get)
    assert(filesIn("day=d0").values.sum == 1)
    assert(filesIn("day=d1") == d1Before) // same gen, untouched
    assert(VersionedTable.read(spark, root).count() == 26)
    // index survives the partial rewrite: range skipping still engages
    // (d1's file holds only v in 20..22 and skips the 10..15 probe)
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 10L, 15L)
    assert(kept < total, s"skipping lost after compactSmallFiles: $kept/$total")
    assert(VersionedTable.readWhere(spark, root, "v", 10L, 15L).count() == 6)
    // nothing qualifies now: NO version is burned
    val before = VersionedTable.history(spark, root)
    assert(VersionedTable.compactSmallFiles(spark, root, 4) == before.max)
    assert(VersionedTable.history(spark, root) == before)
  }

  test("VersionedTable bloom sidecars: payload-free manifests, ref carry, vacuum") {
    val root = java.nio.file.Files.createTempDirectory("graft_bsc")
      .toString + "/table"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    def manifestText(v: Int): String = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(new org.apache.hadoop.fs.Path(root, s"_manifest.$v"))),
      java.nio.charset.StandardCharsets.UTF_8)
    def exists(n: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(root, n))
    val keys = Seq("id", "day")
    val rows = (0 until 200).map(i =>
      (i, s"d${i % 4}", f"doc-${(i * 2654435761L) % 100000}%05d"))
      .toDF("id", "day", "doc")
    VersionedTable.upsert(spark, root, rows, keys, Seq("day"),
      bloomCols = Seq("doc"), fileRows = Some(25))
    // bloom payloads live in the _bloomx sidecar; the per-file refs live
    // in the _idx blocks; the manifest itself holds only per-dir slice
    // refs — O(partitions) at any file count
    assert(exists("_bloomx.0") && exists("_idx.0"))
    def idxText(v: Int): String = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(new org.apache.hadoop.fs.Path(root, s"_idx.$v"))),
      java.nio.charset.StandardCharsets.UTF_8)
    val m0 = manifestText(0)
    assert(m0.contains("#diridx") && !m0.contains("#filebloom") &&
      !m0.contains("#filestat"))
    assert(idxText(0).contains("#filebloomref"))
    // a pruned upsert rewrites ONE partition: its bloom refs land in the
    // new version's _idx blocks, untouched partitions keep #diridx refs
    // into the OLD _idx (whose refs point at the OLD _bloomx)
    VersionedTable.upsert(spark, root,
      Seq((1000, "d0", "doc-99999")).toDF("id", "day", "doc"),
      keys, Seq("day"), bloomCols = Seq("doc"), fileRows = Some(25))
    val m1 = manifestText(1)
    assert(m1.contains("_idx.0") && m1.contains("_idx.1"))
    assert(idxText(0).contains("_bloomx.0") &&
      idxText(1).contains("_bloomx.1"))
    // point lookups keep skipping through the refs (carried AND fresh)
    val needle = rows.filter($"id" === 7).select("doc")
      .collect()(0).getString(0)
    val (kept, total) = VersionedTable.skipStatsEq(spark, root, "doc", needle)
    assert(total >= 8 && kept <= total / 2,
      s"bloom skipping through sidecars did not bite: $kept of $total")
    assert(VersionedTable.readWhereEq(spark, root, "doc", needle)
      .count() == rows.filter($"doc" === needle).count())
    // vacuum keeps the OLD sidecar while the current manifest references
    // it, and retires it once a full rewrite drops the last reference
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(exists("_bloomx.0") && exists("_bloomx.1"))
    VersionedTable.compact(spark, root, bloomCols = Seq("doc"),
      fileRows = Some(25))
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(!exists("_bloomx.0") && !exists("_bloomx.1") && exists("_bloomx.2"))
    assert(VersionedTable.readWhereEq(spark, root, "doc", needle)
      .count() == rows.filter($"doc" === needle).count())
  }

  test("VersionedTable: commit times, TIMESTAMP AS OF, age-based vacuum") {
    val root = java.nio.file.Files.createTempDirectory("graft_times")
      .toString + "/table"
    val keys = Seq("id", "day")
    def put(id: Int, v: String): Unit = VersionedTable.upsert(spark, root,
      Seq((id, s"d$id", v)).toDF("id", "day", "val"), keys, Seq("day"))
    put(1, "a"); put(2, "b"); put(3, "c") // v0, v1, v2
    // pin known commit instants (marker mtimes ARE the commit times)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    Seq(0, 1, 2).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(root, s"_commit.$v"),
        t0 + v * 3600_000L, -1)
    }
    assert(VersionedTable.historyDetail(spark, root).map(_._2) ==
      Seq(t0, t0 + 3600_000L, t0 + 7200_000L))
    // versionAsOf: between commits resolves to the earlier one
    assert(VersionedTable.versionAsOf(spark, root, t0 + 1800_000L)
      .contains(0))
    assert(VersionedTable.versionAsOf(spark, root, t0 - 1).isEmpty)
    assert(VersionedTable.versionAsOf(spark, root, t0 + 9999_999L)
      .contains(2))
    // SQL TIMESTAMP AS OF through graft_table (UTC string)
    GraftExtensions.register(spark)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table('$root', '2026-01-01 01:30:00')")
      .collect()(0).getLong(0) == 2) // v1: rows 1 and 2
    // a DATE literal is TIMESTAMP AS OF too — previously its Int backing
    // (epoch days) silently matched the VERSION case and read "version
    // 20454"
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table('$root', DATE '2026-01-02')")
      .collect()(0).getLong(0) == 3) // after all three commits
    val early = intercept[Exception] {
      spark.sql(
        s"SELECT count(*) FROM graft_table('$root', DATE '1999-01-01')")
        .collect()
    }
    assert(early.getMessage.contains("no version committed"),
      s"unexpected: ${early.getMessage}")
    // a TIMESTAMP literal as well
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$root', " +
      "TIMESTAMP '2026-01-01 00:30:00')").collect()(0).getLong(0) == 1)
    // restoreAsOf rolls back to the version current at the instant
    VersionedTable.restoreAsOf(spark, root, t0 + 1800_000L) // v0 -> v3
    assert(VersionedTable.read(spark, root).count() == 1)
    // age-based vacuum: retire versions older than the retention window;
    // the restored v3 (fresh mtime) and anything younger survive
    VersionedTable.vacuumOlderThan(spark, root,
      retainMs = 365L * 24 * 3600_000L) // keeps everything (all < 1y old)
    assert(VersionedTable.history(spark, root) == Seq(0, 1, 2, 3))
    VersionedTable.vacuumOlderThan(spark, root, retainMs = 0L)
    // only the current version survives a zero-retention vacuum
    assert(VersionedTable.history(spark, root) == Seq(3))
    assert(VersionedTable.read(spark, root).count() == 1) // still readable
  }

  test("VersionedTable.touchedDirs: writes, delete-drops, layout changes") {
    val root = java.nio.file.Files.createTempDirectory("graft_occ2")
      .toString + "/table"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    val keys = Seq("id", "day")
    VersionedTable.upsert(spark, root,
      Seq((1, "2024-01-01", 5L), (2, "2024-01-02", 7L))
        .toDF("id", "day", "v"), keys, Seq("day"), statsCols = Seq("v"))
    // v1 rewrites only day=2024-01-01
    VersionedTable.upsert(spark, root,
      Seq((1, "2024-01-01", 6L)).toDF("id", "day", "v"), keys, Seq("day"),
      statsCols = Seq("v"))
    assert(VersionedTable.touchedDirs(fs, root, 1)
      .contains(Set("day=2024-01-01")))
    // v2: deleteWhere empties day=2024-01-02 ENTIRELY — the partition
    // vanishes from the mapping, so a racing upsert into it is visible
    // only through the prev-minus-new term
    VersionedTable.deleteWhere(spark, root, "v", 7L, 7L)
    assert(VersionedTable.touchedDirs(fs, root, 2)
      .exists(_.contains("day=2024-01-02")))
    // layout evolution makes dir strings incomparable: unverifiable (None)
    VersionedTable.repartitionTable(spark, root, Seq("id"))
    assert(VersionedTable.touchedDirs(fs, root, 3).isEmpty)
  }

  test("VersionedTable.tableSize: exact bytes from the manifest, carried " +
      "through pruned upserts; relation stats use it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtsize").toString
    val root = s"$dir/table"
    val rows = (0 until 200).map(i => (i, s"g${i % 4}", i.toLong))
    VersionedTable.upsert(spark, root, rows.toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"), fileRows = Some(25))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
    def diskBytes(): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
      }
      n
    }
    assert(VersionedTable.tableSize(spark, root).contains(diskBytes()),
      "manifest bytes must equal the on-disk parquet bytes")
    // a pruned upsert touches one dir: carried + fresh bytes still exact.
    // diskBytes() counts BOTH generations' files, so compare against the
    // live mapping's files only via a second full-table read of sizes
    VersionedTable.upsert(spark, root,
      Seq((1000, "g1", 5L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"), fileRows = Some(25))
    // live layout after the pruned upsert: g0/g2/g3 stay in gen0, the
    // touched g1 remapped to gen1
    def leafBytes(p: String): Long =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val liveBytes = leafBytes(s"$root/gen0/grp=g0") +
      leafBytes(s"$root/gen0/grp=g2") + leafBytes(s"$root/gen0/grp=g3") +
      leafBytes(s"$root/gen1/grp=g1")
    assert(VersionedTable.tableSize(spark, root).contains(liveBytes))
    // the pinned relation's optimizer statistics are the manifest's
    val plan = graft.plans.VersionedScan.plan(spark, root, None)
    assert(plan.stats.sizeInBytes == BigInt(liveBytes))
    assert(plan.stats.rowCount.contains(BigInt(201)))
  }

  test("commit gate: small frames share one static clone; a warm small " +
      "upsert's job and stage counts are pinned") {
    // one cached clone per parent session: every clone registers a
    // listener bus on the shared SparkContext for the life of the app,
    // so a fresh clone per small query would leak one per call
    val a = VersionedTable.smallQuery(spark.range(10).toDF("id"))
    val b = VersionedTable.smallQuery(spark.range(20).toDF("id"))
    assert(a.sparkSession ne spark)
    assert(a.sparkSession eq b.sparkSession)
    assert(a.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(a.sparkSession.conf.get("spark.sql.shuffle.partitions") == "8")

    val dir = java.nio.file.Files.createTempDirectory("graft_vtjobs").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    VersionedTable.upsert(spark, root, (0 until 200)
      .map(i => (i, s"g${i % 4}", i.toLong)).toDF("id", "grp", "v"),
      keys, Seq("grp"))
    // warm-up: the first small commit pays one-off planning/codegen
    VersionedTable.upsert(spark, root,
      Seq((1000, "g2", 5L)).toDF("id", "grp", "v"), keys, Seq("grp"))
    val (jobs, stages) = jobsAndStages(VersionedTable.upsert(spark, root,
      Seq((1001, "g1", 6L), (3, "g3", 7L)).toDF("id", "grp", "v"),
      keys, Seq("grp")))
    assert(VersionedTable.read(spark, root).count() == 202)
    // the static path: one delta-probe job, one write job; the stage
    // count tells the probe apart from the entries-job fallback (7)
    assert((jobs, stages) == (2, 3),
      s"warm small upsert ran $jobs jobs, $stages stages")
  }

  test("VersionedTable: an empty delta commits its txn as metadata only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtmeta").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    def up(df: org.apache.spark.sql.DataFrame, bid: Long): Int =
      VersionedTable.upsert(spark, root, df, keys, Seq("grp"),
        statsCols = Seq("v"), bloomCols = Seq("v"), txn = Some(("s1", bid)))
    up((0 until 40).map(i => (i, s"g${i % 4}", i)).toDF("id", "grp", "v"), 0)
    up(Seq((1, "g1", 100)).toDF("id", "grp", "v"), 1)
    // non-nullable ints, while the merge above recorded them nullable:
    // nullability alone still counts as the same schema
    val empty = Seq.empty[(Int, String, Int)].toDF("id", "grp", "v")
    // the static path: the delta probe is the commit's only job
    val (jobs, _) = jobsAndStages(up(empty, 2))
    assert(jobs == 1, s"empty-delta commit ran $jobs jobs")
    assert(VersionedTable.history(spark, root) == Seq(0, 1, 2))
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(2L))
    assert(!new java.io.File(root, "gen2").exists, "wrote a generation dir")
    // the prior manifest verbatim — mapping, per-dir counts, content
    // tokens, index refs — with only the watermark advanced
    val prior = VersionedTable.resolveManifest(spark, root, Some(1))
    assert(VersionedTable.resolveManifest(spark, root, Some(2)) ==
      prior.copy(txns = Map("s1" -> 2L)))
    assert(VersionedTable.readWhereEq(spark, root, "v", 100).count() == 1)
    // a replayed batch id commits nothing
    up(empty, 2)
    assert(VersionedTable.history(spark, root) == Seq(0, 1, 2))
    // an empty delta that adds a column still evolves the schema
    up(Seq.empty[(Int, String, Int, String)].toDF("id", "grp", "v", "note"), 3)
    assert(VersionedTable.history(spark, root) == Seq(0, 1, 2, 3))
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(3L))
    val evolved = VersionedTable.resolveManifest(spark, root, Some(3))
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "grp", "v", "note"))
    assert(evolved.mapping == prior.mapping)
    assert(VersionedTable.read(spark, root).count() == 40)
  }

  test("VersionedTable: merges record one #schema whatever they rewrote") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtnull").toString
    val root = s"$dir/table"
    val keys = Seq("id", "grp")
    def up(df: org.apache.spark.sql.DataFrame, bid: Long): Int =
      VersionedTable.upsert(spark, root, df, keys, Seq("grp"),
        txn = Some(("s1", bid)))
    // primitive ints come in non-nullable; the merge over g0 reads its
    // survivors back from parquet (nullable); the empty delta carries
    up((0 until 4).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "n"), 0)
    up(Seq((0, "g0", 10)).toDF("id", "grp", "n"), 1)
    up(Seq.empty[(Int, String, Int)].toDF("id", "grp", "n"), 2)
    up(Seq((5, "g5", 5)).toDF("id", "grp", "n"), 3)
    def schemaLine(v: Int): String = {
      val src = scala.io.Source.fromFile(s"$root/_manifest.$v", "UTF-8")
      try src.getLines().find(_.startsWith("#schema\t")).get
      finally src.close()
    }
    assert(VersionedTable.history(spark, root) == Seq(0, 1, 2, 3))
    assert((0 to 3).map(schemaLine).distinct.size == 1,
      (0 to 3).map(schemaLine).mkString("\n"))
    assert(VersionedTable.resolveManifest(spark, root, None).schema
      .forall(_.nullable))
    // the empty delta still wrote no generation
    assert(!new java.io.File(root, "gen2").exists)
  }

  test("commit gate: parent sessions with equal conf share one static clone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtclones").toString
    val root = s"$dir/table"
    VersionedTable.upsert(spark, root, Seq((0, "g0")).toDF("id", "grp"),
      Seq("id", "grp"), Seq("grp"))
    val before = VersionedTable.commitCloneCount
    (1 to 100).foreach { i =>
      val s = spark.newSession()
      VersionedTable.upsert(s, root, s.range(1).selectExpr(
        s"CAST($i AS INT) AS id", "'g0' AS grp"), Seq("id", "grp"), Seq("grp"))
    }
    val after = VersionedTable.commitCloneCount
    assert(after <= before + 1 && after <= 8,
      s"100 new sessions left $after clones (was $before)")
    assert(VersionedTable.read(spark, root).count() == 101)
  }

  /** Jobs and stages `body` runs: a thread-local job property tags its
    * jobs, then a marker job waits out the asynchronous listener bus so
    * every earlier job start is delivered. */
  /** (file-source scans, unions) in a frame's physical plan. */
  private def scanShape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val p = df.queryExecution.sparkPlan
    (p.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .size,
     p.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.size)
  }

  test("versioned read: ONE file-source scan across generations, exact " +
      "values, DVs and renames") {
    import graft.plans.VersionedScan
    import org.apache.spark.sql.types.StringType
    val root = java.nio.file.Files.createTempDirectory("graft_onerel")
      .toString + "/table"
    val keys = Seq("id", "day")
    def up(rows: Seq[(Int, String, Int, String)]): Unit =
      VersionedTable.upsert(spark, root,
        rows.toDF("id", "day", "v", "val"), keys, Seq("day"))
    // gen0: '01'-style strings, the null partition, a space, '%' and '+'
    up(Seq((1, "01", 10, "a"), (2, "01", 11, "b"), (3, "02", 20, "c"),
      (4, "02", 21, "d"), (5, null, 30, "e"), (6, "page view", 40, "f"),
      (7, "100%", 50, "g"), (8, "a+b", 60, "h"), (9, "a+b", 61, "i")))
    up(Seq((3, "02", 22, "C"), (8, "a+b", 62, "H")))            // gen1
    up(Seq((5, null, 31, "E"), (10, "page view", 41, "j")))     // gen2
    // DVs on a gen0 file (id 2) and a gen1 file (id 4)
    VersionedTable.deleteWhereDV(spark, root, "v", 11, 21)
    VersionedTable.renameColumn(spark, root, "val", "label")
    val m = VersionedTable.resolveManifest(spark, root, None)
    assert(m.mapping.values.toSet == Set("gen0", "gen1", "gen2"))
    assert(m.dvs.keys.map(_.takeWhile(_ != '/')).toSet == Set("gen0", "gen1"))
    val expected = Set((1, "01", 10, "a"), (3, "02", 22, "C"),
      (5, null, 31, "E"), (6, "page view", 40, "f"), (7, "100%", 50, "g"),
      (8, "a+b", 62, "H"), (9, "a+b", 61, "i"), (10, "page view", 41, "j"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"day", $"v", $"label")
        .as[(Int, String, Int, String)].collect().toSet
    val viaApi = VersionedScan.table(spark, root).filter($"id" > 0)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_table('$root') WHERE v >= 0")
    for (df <- Seq(viaApi, viaSql)) {
      assert(scanShape(df) == (1, 0), df.queryExecution.sparkPlan.toString)
      assert(rows(df) == expected)
    }
    // partition pruning and the null partition through the same scan
    assert(rows(VersionedScan.table(spark, root).filter($"day" === "01"))
      == Set((1, "01", 10, "a")))
    assert(rows(spark.sql(
      s"SELECT * FROM graft_table('$root') WHERE day IS NULL AND id > 0"))
      == Set((5, null, 31, "E")))
    // a column added with an initial default after gen0, then a merge
    // that rewrites dir 01 post-add: pre-add generations surface the
    // default, the post-add one its own values — two default sets, so
    // exactly two scans, unioned
    VersionedTable.addColumn(spark, root, "src", StringType, Some("'legacy'"))
    VersionedTable.upsert(spark, root,
      Seq((11, "01", 70, "k", "new")).toDF("id", "day", "v", "label", "src"),
      keys, Seq("day"))
    val withSrc = VersionedScan.table(spark, root).filter($"id" > 0)
    assert(scanShape(withSrc) == (2, 1))
    assert(withSrc.select($"id", $"src").as[(Int, String)].collect().toSet ==
      (expected.map(r => (r._1, "legacy")) + ((11, "new"))))
  }

  test("partition values parse in the session time zone") {
    import graft.plans.VersionedScan
    // a zone whose offset differs from the JVM default's at the instant
    val jvm = java.util.TimeZone.getDefault
    val zone = Seq("America/New_York", "Asia/Tokyo").find { z =>
      java.util.TimeZone.getTimeZone(z).getOffset(1704103200000L) !=
        jvm.getOffset(1704103200000L) }.get
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    val root = java.nio.file.Files.createTempDirectory("graft_tzpart")
      .toString + "/table"
    VersionedTable.upsert(s, root,
      s.sql("SELECT id, TIMESTAMP '2024-01-01 10:00:00' AS ts " +
        "FROM VALUES (1), (2) AS t(id)"), Seq("id", "ts"), Seq("ts"))
    val at = "TIMESTAMP '2024-01-01 10:00:00'"
    val want = s.sql(s"SELECT $at").head().getTimestamp(0)
    // a plain read renders the dir's value back unchanged
    assert(s.sql(s"SELECT CAST(ts AS STRING) FROM graft_table('$root')")
      .collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-01 10:00:00", "2024-01-01 10:00:00"))
    // dir pruning keeps the dir
    assert(s.sql(s"SELECT id FROM graft_table('$root') WHERE ts = $at")
      .collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(VersionedScan.table(s, root)
      .filter(org.apache.spark.sql.functions.col("ts") === want).count() == 2)
    // the filtered and the grouped count folds count it
    assert(s.sql(s"SELECT count(*) FROM graft_table('$root') WHERE ts = $at")
      .head().getLong(0) == 2)
    assert(s.sql(s"SELECT ts, count(*) FROM graft_table('$root') GROUP BY ts")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq ==
      Seq((want, 2L)))
  }

  test("writeGeneration: identical commits write identical data files") {
    val base = java.nio.file.Files.createTempDirectory("graft_detwrite")
      .toString
    // no stats columns (the tick-stream sink's shape) and input spread
    // over many tasks, so only the tie-break fixes the in-file order.
    // Bytes compare within one JVM: parquet-mr orders a column chunk's
    // footer encodings list differently between processes
    def commits(root: String): Unit = {
      val rows = spark.range(0, 6000, 1, 8).select(
        ($"id" % 3).cast("string").as("day"), $"id",
        ($"id" * 7919 % 1000).as("v"))
      VersionedTable.upsert(spark, root, rows, Seq("id", "day"), Seq("day"))
      VersionedTable.upsert(spark, root, rows.filter($"id" % 5 === 0)
        .withColumn("v", $"v" + 1), Seq("id", "day"), Seq("day"))
    }
    def digests(root: String): Map[String, Seq[String]] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val out = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) {
          val in = fs.open(p)
          val md5 = try org.apache.commons.codec.digest.DigestUtils.md5Hex(in)
            finally in.close()
          out += p.getParent.toString.stripPrefix(
            fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString) -> md5
        }
      }
      out.result().groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sorted }
    }
    commits(s"$base/a"); commits(s"$base/b")
    val (a, b) = (digests(s"$base/a"), digests(s"$base/b"))
    assert(a.keySet.size == 6, a.keySet) // 3 dirs in each of 2 generations
    assert(a == b)
  }
}
