package graft

import org.apache.spark.sql.functions._

import graft.ops.{Expectations, VersionedTable}
import graft.ops.VersionedTable.ConstraintViolationException

/** Data-quality expectations: DROP removes violating delta rows from the
  * write, QUARANTINE routes them to a side table idempotently, UPDATE
  * treats every expectation as FAIL, and the registry rides the property
  * carry through every commit. */
class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_exp_$tag").toString
    val root = s"$dir/table"
    VersionedTable.upsert(spark, root,
      (0 until 100).map(i => (i, s"g${i % 2}", i.toLong))
        .toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"))
    root
  }

  test("DROP mode: violating rows vanish from the write, counted") {
    val root = fresh("drop")
    Expectations.add(spark, root, "v_nonneg", "v >= 0",
      Expectations.DropRows)
    // 3 violations + 2 good rows in one batch
    VersionedTable.upsert(spark, root,
      Seq((200, "g0", -1L), (201, "g1", -2L), (202, "g0", 5L),
        (203, "g1", -3L), (204, "g0", 6L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"))
    assert(Expectations.lastGateCounts == Map("v_nonneg" -> 3L))
    val got = VersionedTable.read(spark, root)
      .filter(col("id") >= 200).orderBy("id")
      .select("id").as[Int].collect().toSeq
    assert(got == Seq(202, 204), s"kept rows wrong: $got")
    // a violating UPDATE of surviving rows FAILS (no silent row drop)
    intercept[ConstraintViolationException] {
      VersionedTable.updateWhere(spark, root, "id", 202, 202,
        Map("v" -> lit(-9L)))
    }
  }

  test("a gated commit's stream watermark reads back; replays no-op") {
    val root = fresh("txn")
    Expectations.add(spark, root, "v_nonneg", "v >= 0",
      Expectations.DropRows)
    def up(bid: Long) = VersionedTable.upsert(spark, root,
      Seq((500, "g0", 1L), (501, "g1", -1L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"), txn = Some(("s1", bid)))
    up(1)
    // the gate's #expectlog lines precede #txn in the manifest header
    assert(VersionedTable.lastTxn(spark, root, "s1").contains(1L))
    val before = VersionedTable.history(spark, root)
    up(1)
    assert(VersionedTable.history(spark, root) == before,
      "a replayed batch of a gated stream must not commit again")
  }

  test("QUARANTINE mode: violations route keyed; replay re-quarantines " +
      "the same rows without duplicates") {
    val root = fresh("quar")
    val qroot = root + "_quarantine"
    Expectations.add(spark, root, "v_small", "v < 1000",
      Expectations.QuarantineRows, Some(qroot))
    val batch = Seq((300, "g0", 5000L), (301, "g1", 7L),
      (302, "g0", 9999L)).toDF("id", "grp", "v")
    VersionedTable.upsert(spark, root, batch, Seq("id", "grp"), Seq("grp"))
    assert(Expectations.lastGateCounts == Map("v_small" -> 2L))
    val q1 = VersionedTable.read(spark, qroot)
    assert(q1.count() == 2)
    assert(q1.select("__expectation").distinct().as[String].collect()
      .toSeq == Seq("v_small"))
    assert(q1.select("id").as[Int].collect().toSet == Set(300, 302))
    // main table kept only the good row
    assert(VersionedTable.read(spark, root).filter(col("id") >= 300)
      .select("id").as[Int].collect().toSeq == Seq(301))
    // REPLAY the same batch (crash-retry shape): quarantine must not
    // grow — the (keys + expectation) upsert dedupes
    VersionedTable.upsert(spark, root, batch, Seq("id", "grp"), Seq("grp"))
    assert(VersionedTable.read(spark, qroot).count() == 2)
    // counts survive the nested quarantine upsert (which re-enters the
    // gate on the expectation-free quarantine table)
    VersionedTable.upsert(spark, root,
      Seq((310, "g0", 8888L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"))
    assert(Expectations.lastGateCounts == Map("v_small" -> 1L))
    assert(VersionedTable.read(spark, qroot).count() == 3)
  }

  test("quarantine keying is STABLE: a later upsert with a reordered " +
      "caller key set keeps the quarantine's recorded keys") {
    val root = fresh("qkey")
    val qroot = root + "_quarantine"
    Expectations.add(spark, root, "v_small", "v < 1000",
      Expectations.QuarantineRows, Some(qroot))
    val batch = Seq((400, "g0", 5000L)).toDF("id", "grp", "v")
    VersionedTable.upsert(spark, root, batch, Seq("id", "grp"), Seq("grp"))
    val qKeys = VersionedTable.resolveManifest(spark, qroot, None).keys
    assert(qKeys == Seq("id", "grp", Expectations.ExpectationCol),
      s"quarantine keyed by the MAIN table's recorded keys: $qKeys")
    // replay with the caller's keys REORDERED: the gate must key the
    // quarantine by ITS OWN recorded keys (what add() validated), not
    // silently re-record the caller's per-call order
    VersionedTable.upsert(spark, root, batch, Seq("grp", "id"), Seq("grp"))
    assert(VersionedTable.read(spark, qroot).count() == 1,
      "replay must re-quarantine the same row, not duplicate it")
    assert(VersionedTable.resolveManifest(spark, qroot, None).keys == qKeys,
      "quarantine keying drifted with the caller's key order")
  }

  // The uniform MERGE semantic, all four legs: a violating candidate
  // row never enters the table — matched UPDATE reverts to the old
  // row, NOT MATCHED INSERT vanishes, BY SOURCE UPDATE reverts,
  // matched DELETE writes no row and is never gated. CHECK constraints
  // (FAIL) abort the whole statement instead.
  private def mergeAllLegs(root: String): Unit = {
    import VersionedTable.MergeClause
    VersionedTable.mergeClauses(spark, root,
      Seq((0, "g0", -5L),    // matched UPDATE -> violates -> revert
        (1, "g1", 0L),       // matched DELETE (ungated)
        (500, "g0", -7L),    // NOT MATCHED INSERT -> violates -> vanish
        (501, "g1", 7L))     // NOT MATCHED INSERT -> passes
        .toDF("id", "grp", "v"),
      Seq("id", "grp"),
      matched = Seq(
        MergeClause(Some(col("id") === 1), None), // DELETE
        MergeClause(None, Some(Map("v" -> col("__s_v"))))),
      insertWhen = Some(None),
      bySource = Seq(
        MergeClause(Some(col("id") === 2),
          Some(Map("v" -> lit(-99L)))), // violates -> revert
        MergeClause(Some(col("id") === 3),
          Some(Map("v" -> lit(33L)))))) // passes
  }

  private def assertMergeOutcome(root: String): Unit = {
    val got = VersionedTable.read(spark, root)
      .filter(col("id").isin(0, 1, 2, 3, 500, 501))
      .select("id", "v").as[(Int, Long)].collect().toMap
    assert(got == Map(0 -> 0L, 2 -> 2L, 3 -> 33L, 501 -> 7L),
      s"MERGE leg outcomes wrong: $got")
    assert(Expectations.lastGateCounts == Map("v_nonneg" -> 3L),
      s"counts: ${Expectations.lastGateCounts}")
  }

  test("MERGE x DROP: violating update/by-source revert, violating " +
      "insert vanishes, delete leg ungated") {
    val root = fresh("mdrop")
    Expectations.add(spark, root, "v_nonneg", "v >= 0",
      Expectations.DropRows)
    mergeAllLegs(root)
    assertMergeOutcome(root)
  }

  test("MERGE x QUARANTINE: same leg outcomes, violating post-images " +
      "routed keyed") {
    val root = fresh("mquar")
    val qroot = root + "_quarantine"
    Expectations.add(spark, root, "v_nonneg", "v >= 0",
      Expectations.QuarantineRows, Some(qroot))
    mergeAllLegs(root)
    assertMergeOutcome(root)
    val q = VersionedTable.read(spark, qroot)
      .select("id", "v").as[(Int, Long)].collect().toMap
    assert(q == Map(0 -> -5L, 2 -> -99L, 500 -> -7L),
      s"quarantined post-images wrong: $q")
  }

  test("MERGE x FAIL (CHECK constraint): any violating leg aborts the " +
      "whole statement, nothing commits") {
    import VersionedTable.MergeClause
    val root = fresh("mfail")
    VersionedTable.addConstraint(spark, root, "v_nonneg", "v >= 0")
    val vBefore = VersionedTable.currentVersion(spark, root).get
    intercept[ConstraintViolationException](mergeAllLegs(root))
    assert(VersionedTable.currentVersion(spark, root).get == vBefore)
    // the violating-INSERT-only shape aborts too (rides upsert's gate)
    intercept[ConstraintViolationException] {
      VersionedTable.mergeClauses(spark, root,
        Seq((600, "g0", -1L)).toDF("id", "grp", "v"), Seq("id", "grp"),
        matched = Seq(MergeClause(None, Some(Map("v" -> col("__s_v"))))),
        insertWhen = Some(None))
    }
    assert(VersionedTable.currentVersion(spark, root).get == vBefore)
  }

  test("ANSI semantics: NULL predicate passes; delta omitting a " +
      "committed column still gates") {
    val root = fresh("ansi")
    val qroot = root + "_q"
    Expectations.add(spark, root, "v_pos", "v > 0",
      Expectations.QuarantineRows, Some(qroot))
    // delta WITHOUT the v column: rows land NULL there -> NULL passes
    VersionedTable.upsert(spark, root,
      Seq((400, "g0")).toDF("id", "grp"), Seq("id", "grp"), Seq("grp"))
    assert(Expectations.lastGateCounts == Map("v_pos" -> 0L))
    assert(VersionedTable.read(spark, root).filter(col("id") === 400)
      .count() == 1)
  }

  test("registration validates: bad expr, self-quarantine, dup name; " +
      "drop removes enforcement; registry is versioned") {
    val root = fresh("valid")
    intercept[Exception] {
      Expectations.add(spark, root, "broken", "no_such_col > 0",
        Expectations.DropRows)
    }
    intercept[IllegalArgumentException] {
      Expectations.add(spark, root, "selfq", "v >= 0",
        Expectations.QuarantineRows, Some(root))
    }
    // an EXISTING incompatible quarantine table refuses at CREATE, not
    // at the first violating ingest
    intercept[IllegalArgumentException] {
      Expectations.add(spark, root, "shapeq", "v >= 0",
        Expectations.QuarantineRows, Some(fresh("valid_q")))
    }
    Expectations.add(spark, root, "e1", "v >= 0", Expectations.DropRows)
    intercept[IllegalArgumentException] {
      Expectations.add(spark, root, "e1", "v >= 1", Expectations.DropRows)
    }
    val vWith = VersionedTable.currentVersion(spark, root).get
    assert(Expectations.list(spark, root).map(_.name) == Seq("e1"))
    Expectations.drop(spark, root, "e1")
    intercept[IllegalArgumentException] {
      Expectations.drop(spark, root, "e1")
    }
    // enforcement gone: a violating row now lands
    VersionedTable.upsert(spark, root,
      Seq((500, "g0", -5L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"))
    assert(VersionedTable.read(spark, root).filter(col("v") < 0)
      .count() == 1)
    // time travel: the rules in force at the older version still show
    assert(Expectations.list(spark, root, Some(vWith)).map(_.name)
      == Seq("e1"))
  }

  test("streaming ingest is gated: violations quarantine once, " +
      "checkpoint-loss replay re-delivers without duplicates") {
    import java.nio.file.Files
    import graft.streaming.StreamPipeline
    val base = Files.createTempDirectory("graft_exp_stream")
    val raw = Files.createDirectory(base.resolve("raw"))
    val root = base.resolve("table").toString
    val qroot = base.resolve("quarantine").toString
    def writeCsv(name: String, rows: Seq[String]): Unit =
      Files.writeString(raw.resolve(name),
        ("symbol,price,change,change_percent,volume,timestamp" +: rows)
          .mkString("\n"))
    def run(ckpt: String): Unit = {
      val metrics = StreamPipeline.windowedMetrics(
        StreamPipeline.tickStream(spark, raw.toString),
        width = "5 minutes", slide = "5 minutes")
        .withColumn("day", to_date(col("window_start")))
      StreamPipeline.startVersionedMerge(metrics, root,
        ckpt, keys = Seq("symbol", "window_start", "day"),
        partCols = Seq("day"), streamId = "exp-stream")
        .awaitTermination(60000)
    }
    // seed the table, then arm the expectation
    writeCsv("m1.csv", Seq("AAA,10.0,0.0,,100,2024-01-01T00:01:00"))
    val ckpt1 = base.resolve("ckpt1").toString
    run(ckpt1)
    Expectations.add(spark, root, "ma_cap", "ma < 1000",
      Expectations.QuarantineRows, Some(qroot))
    // one sane + one violating window (ma = 5000); the later m3 tick
    // advances the watermark past 01:05 so the 01:00 windows emit
    writeCsv("m2.csv", Seq(
      "AAA,20.0,0.0,,100,2024-01-01T01:00:00",
      "BBB,5000.0,0.0,,100,2024-01-01T01:00:00"))
    run(ckpt1)
    writeCsv("m3.csv", Seq("AAA,30.0,0.0,,100,2024-01-01T02:00:00"))
    run(ckpt1)
    assert(VersionedTable.read(spark, qroot).count() == 1)
    assert(VersionedTable.read(spark, root)
      .filter(col("symbol") === "BBB").count() == 0,
      "violating window leaked into the main table")
    val mainRows = VersionedTable.read(spark, root).collect().toSet
    // CHECKPOINT LOSS: same batches re-deliver under the same stream id;
    // txn idempotency skips the main commits, and even if the gate
    // re-ran, the keyed quarantine could not grow
    run(base.resolve("ckpt2").toString)
    assert(VersionedTable.read(spark, qroot).count() == 1)
    assert(VersionedTable.read(spark, root).collect().toSet == mainRows)
  }

  test("SQL surface: CREATE/SHOW/DROP EXPECTATION; unregistered " +
      "QUARANTINE INTO name registers a managed destination") {
    val root = fresh("sql")
    val qname = "exp_sql_quar_" + System.nanoTime()
    spark.sql(s"CREATE EXPECTATION v_cap ON graft.`$root` " +
      s"CHECK (v < 500000) ON VIOLATION QUARANTINE INTO $qname")
    val shown = spark.sql(s"SHOW GRAFT EXPECTATIONS ON graft.`$root`")
      .collect()
    assert(shown.length == 1 && shown(0).getString(1) == "v_cap"
      && shown(0).getString(2) == "quarantine")
    // catalog-wide listing: no registered table carries this rule (root
    // is path-addressed), so it reports only registered tables' rules
    val all = spark.sql("SHOW GRAFT EXPECTATIONS").collect()
    assert(!all.exists(_.getString(1) == "v_cap"))
    val qroot = graft.plans.GraftCatalog.resolve(spark, qname)
    assert(qroot.isDefined, "quarantine name not registered")
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$root`").first
      .getAs[String]("expectations")
      .startsWith("v_cap: v < 500000 ON VIOLATION quarantine INTO"))
    VersionedTable.upsert(spark, root,
      Seq((600, "g0", 900000L), (601, "g1", 3L)).toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"))
    assert(VersionedTable.read(spark, qroot.get).count() == 1)
    spark.sql(s"DROP EXPECTATION v_cap ON graft.`$root`")
    assert(spark.sql(s"SHOW GRAFT EXPECTATIONS ON graft.`$root`")
      .count() == 0)
    intercept[Exception] {
      spark.sql(s"DROP EXPECTATION v_cap ON graft.`$root`")
    }
    graft.plans.GraftCatalog.drop(spark, qname)
  }
}
