package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable
import graft.plans.VersionedScan

/** Derived (hidden) partitioning: a partition column registered as
  * day(ts) or bucket(id) makes predicates on the NATURAL column prune
  * partition dirs — the query never names the partition column — while
  * the write-time invariant keeps the mapping honest. */
class DerivedPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_dp_$tag")
      .toString + "/t"

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-02-${day}%02d $hour%02d:00:00")

  /** 10 days × 24 hourly rows, day column derived from ts. */
  private def dayTable(root: String): Unit = {
    val rows = for (d <- 1 to 10; h <- 0 until 24)
      yield (d * 100 + h, ts(d, h), d.toLong)
    val df = rows.toDF("id", "ts", "v")
      .withColumn("day", VersionedTable.derivedPartitionColumn("day", "ts"))
    VersionedTable.upsert(spark, root, df, Seq("id", "day"), Seq("day"),
      statsCols = Seq("id"))
    VersionedTable.addDerivedPartition(spark, root, "day", "day", "ts")
  }

  private def files(df: org.apache.spark.sql.DataFrame): Int =
    VersionedTable.physicalInputFiles(df)

  test("day(): ts range predicates prune partition dirs via the rule") {
    val root = tmp("day")
    dayTable(root)
    val all = VersionedScan.table(spark, root)
    val total = files(all)
    assert(all.count() == 240 && total >= 10)
    // the query names ONLY ts; the registration maps the bounds to day
    val lo = ts(4, 6)
    val hi = ts(6, 18)
    val ranged = VersionedScan.table(spark, root)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
    assert(files(ranged) <= total * 3 / 10,
      s"derived day pruning did not bite: ${files(ranged)} of $total")
    assert(ranged.count() ==
      18 + 24 + 19) // day-4 hours 6-23, full day 5, day-6 hours 0-18
    // equality maps too
    val eq = VersionedScan.table(spark, root)
      .filter(col("ts") === lit(ts(8, 12)))
    assert(files(eq) <= total / 10 + 1,
      s"derived day eq pruning did not bite: ${files(eq)} of $total")
    assert(eq.select($"id").as[Int].collect().toSeq == Seq(812))
    // SQL WHERE through the registered view gets the same pruning
    VersionedScan.table(spark, root).createOrReplaceTempView("dp_day")
    assert(spark.sql(
      s"SELECT count(*) FROM dp_day WHERE ts >= TIMESTAMP'2024-02-09 00:00:00'")
      .collect().head.getLong(0) == 48)
  }

  test("day(): invariant enforced on upsert and UPDATE; backlog on register") {
    val root = tmp("dayinv")
    dayTable(root)
    // a write claiming the wrong day for its ts must refuse
    val bad = Seq((9999, ts(3, 5), 0L))
      .toDF("id", "ts", "v")
      .withColumn("day", lit("2024-02-09").cast("date"))
    val e = intercept[Exception] {
      VersionedTable.upsert(spark, root, bad, Seq("id", "day"), Seq("day"))
    }
    assert(e.getMessage.contains("__derived_day"))
    // an UPDATE shifting ts out of its dir's day must refuse
    val e2 = intercept[Exception] {
      VersionedTable.updateMatching(spark, root, col("id") === 305,
        Map("ts" -> (col("ts") + expr("INTERVAL 3 DAYS"))))
    }
    assert(e2.getMessage.contains("__derived_day"))
    // a well-formed write (day recomputed from ts) commits fine
    val good = Seq((9999, ts(3, 5), 0L)).toDF("id", "ts", "v")
      .withColumn("day", VersionedTable.derivedPartitionColumn("day", "ts"))
    VersionedTable.upsert(spark, root, good, Seq("id", "day"), Seq("day"))
    assert(VersionedTable.read(spark, root).count() == 241)
    // registering over violating data refuses
    val root2 = tmp("daybad")
    val df2 = Seq((1, ts(2, 2), 1L)).toDF("id", "ts", "v")
      .withColumn("day", lit("2024-02-05").cast("date"))
    VersionedTable.upsert(spark, root2, df2, Seq("id", "day"), Seq("day"))
    val e3 = intercept[Exception] {
      VersionedTable.addDerivedPartition(spark, root2, "day", "day", "ts")
    }
    assert(e3.getMessage.contains("existing data"))
  }

  test("day(): null facets map; registration survives maintenance") {
    val root = tmp("daynull")
    val rows = (1 to 50).map(i =>
      (i, if (i % 10 == 0) null else ts(1 + i % 5, i % 24), i.toLong))
    val df = rows.toDF("id", "ts", "v")
      .withColumn("day", VersionedTable.derivedPartitionColumn("day", "ts"))
    VersionedTable.upsert(spark, root, df, Seq("id", "day"), Seq("day"))
    VersionedTable.addDerivedPartition(spark, root, "day", "day", "ts")
    val nulls = VersionedScan.table(spark, root).filter(col("ts").isNull)
    assert(nulls.count() == 5)
    val notNulls = VersionedScan.table(spark, root)
      .filter(col("ts").isNotNull)
    assert(notNulls.count() == 45)
    // compact + deleteMatching + vacuum carry the registration
    VersionedTable.compact(spark, root)
    VersionedTable.deleteMatching(spark, root, col("id") === 7)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.derivedPartitionsOf(spark, root) ==
      Map("day" -> (("day", "ts"))))
    // still pruning after the maintenance cycle
    val total = files(VersionedScan.table(spark, root))
    val eq = VersionedScan.table(spark, root)
      .filter(col("ts") === lit(ts(2, 1)))
    assert(files(eq) < total)
  }

  test("bucket(): id equality and IN prune to their hash dirs") {
    val root = tmp("bucket")
    val rows = (0 until 400).map(i => (i.toLong, s"name_$i", i % 7))
    val df = rows.toDF("id", "name", "v")
      .withColumn("b", VersionedTable.derivedPartitionColumn("bucket:8", "id"))
    VersionedTable.upsert(spark, root, df, Seq("id", "b"), Seq("b"))
    VersionedTable.addDerivedPartition(spark, root, "b", "bucket:8", "id")
    val total = files(VersionedScan.table(spark, root))
    assert(total >= 8)
    val eq = VersionedScan.table(spark, root).filter(col("id") === 137L)
    assert(files(eq) <= total / 4,
      s"bucket eq pruning did not bite: ${files(eq)} of $total")
    assert(eq.select($"name").as[String].collect().toSeq == Seq("name_137"))
    val in = VersionedScan.table(spark, root)
      .filter(col("id").isin(3L, 137L, 290L))
    assert(files(in) < total)
    assert(in.count() == 3)
    // a RANGE on id must NOT prune through the hash (not monotone):
    // correctness check — full result despite the registration
    val ranged = VersionedScan.table(spark, root)
      .filter(col("id") >= 100L && col("id") <= 110L)
    assert(ranged.count() == 11)
    // DML through the same implication: delete one id touches a subset
    VersionedTable.deleteMatching(spark, root, col("id") === 291L)
    assert(VersionedTable.read(spark, root).count() == 399)
    val m = VersionedTable.derivedPartitionsOf(spark, root)
    assert(m == Map("b" -> (("bucket:8", "id"))))
  }

  /** Dirs whose mapping moved off gen0: what a rewrite touched. */
  private def remapped(root: String): Set[String] =
    VersionedTable.resolveManifest(spark, root, None).mapping
      .collect { case (rel, gen) if gen != "gen0" => rel }.toSet

  /** 400 ids over bucket(8) of id, no stats on id. */
  private def bucketTable(root: String): Unit = {
    val df = (0 until 400).map(i => (i.toLong, s"name_$i", i % 7))
      .toDF("id", "name", "v")
      .withColumn("b", VersionedTable.derivedPartitionColumn("bucket:8", "id"))
    VersionedTable.upsert(spark, root, df, Seq("id", "b"), Seq("b"))
    VersionedTable.addDerivedPartition(spark, root, "b", "bucket:8", "id")
  }

  /** The dir holding `id` at the current version. */
  private def bucketDirOf(root: String, id: Long): String =
    "b=" + VersionedTable.read(spark, root).filter(col("id") === id)
      .select($"b").collect().head.get(0)

  test("bucket(): shape DML of one id rewrites only that id's hash dir") {
    val del = tmp("bucketdel")
    bucketTable(del)
    val delDir = bucketDirOf(del, 137L)
    VersionedTable.deleteWhereIn(spark, del, "id", Seq(137L))
    assert(remapped(del) == Set(delDir))
    assert(VersionedTable.resolveManifest(spark, del, None).mapping
      .count(_._2 == "gen0") == 7)
    assert(VersionedTable.read(spark, del).count() == 399)
    val upd = tmp("bucketupd")
    bucketTable(upd)
    val updDir = bucketDirOf(upd, 290L)
    VersionedTable.updateWhereIn(spark, upd, "id", Seq(290L),
      Map("name" -> lit("fixed")))
    assert(remapped(upd) == Set(updDir))
    assert(VersionedTable.read(spark, upd).filter($"name" === "fixed")
      .select($"id").as[Long].collect().toSeq == Seq(290L))
    // a RANGE on id cannot map through the hash (not monotone): with no
    // stats on id every dir rewrites, and every id in range goes
    val ranged = tmp("bucketrange")
    bucketTable(ranged)
    VersionedTable.deleteWhere(spark, ranged, "id", 100L, 110L)
    assert(remapped(ranged).size == 8)
    assert(VersionedTable.read(spark, ranged).count() == 389)
  }

  test("day(): shape DML over a ts range rewrites only that day's dir") {
    val del = tmp("daydel")
    dayTable(del)
    VersionedTable.deleteWhere(spark, del, "ts", ts(4, 6), ts(4, 8))
    assert(remapped(del) == Set("day=2024-02-04"))
    assert(VersionedTable.read(spark, del).count() == 237)
    val upd = tmp("dayupd")
    dayTable(upd)
    VersionedTable.updateWhere(spark, upd, "ts", ts(4, 6), ts(4, 8),
      Map("v" -> lit(-1L)))
    assert(remapped(upd) == Set("day=2024-02-04"))
    assert(VersionedTable.read(spark, upd).filter($"v" === -1L)
      .select($"id").as[Int].collect().toSet == Set(406, 407, 408))
  }

  test("registration validation refuses bad shapes") {
    val root = tmp("val")
    dayTable(root)
    intercept[IllegalArgumentException] {
      VersionedTable.addDerivedPartition(spark, root, "nope", "day", "ts")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addDerivedPartition(spark, root, "day", "century", "ts")
    }
    intercept[IllegalArgumentException] {
      // src must be a data column
      VersionedTable.addDerivedPartition(spark, root, "day", "day", "day")
    }
    intercept[IllegalArgumentException] {
      // double registration
      VersionedTable.addDerivedPartition(spark, root, "day", "day", "ts")
      VersionedTable.addDerivedPartition(spark, root, "day", "day", "ts")
    }
    // drop deregisters; predicates stop mapping but data still reads
    VersionedTable.dropDerivedPartition(spark, root, "day")
    assert(VersionedTable.derivedPartitionsOf(spark, root).isEmpty)
    assert(VersionedScan.table(spark, root)
      .filter(col("ts") >= lit(ts(9, 0))).count() == 48)
  }
}
