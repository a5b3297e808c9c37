package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{MatView, VersionedTable}

/** Incrementally-maintained materialized aggregates (MatView): the view
  * equals a from-scratch aggregate of the source after EVERY refresh,
  * across upserts, predicate deletes, updates, group death and rebirth,
  * all-NULL sum groups, NULL group keys, vacuum, and no-op replays —
  * for both maintenance strategies (delta-only and min/max recompute). */
class MatViewSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mv_$tag").toString

  /** Source rows: (id, part, g, x) — g is the group key (nullable),
    * x the measure (nullable). */
  private def seed(root: String): Unit = {
    val rows = (0 until 300).map { i =>
      (i, s"p${i % 3}",
        if (i % 29 == 0) null else s"g${i % 7}",
        if (i % 13 == 0) None else Some(i.toLong % 101))
    }
    VersionedTable.upsert(spark, root,
      rows.toDF("id", "part", "g", "x"), Seq("id", "part"), Seq("part"),
      statsCols = Seq("id"), bloomCols = Seq("g"), fileRows = Some(40))
  }

  /** From-scratch truth for (sum, min, max, count) per group. */
  private def direct(srcRoot: String): DataFrame =
    VersionedTable.read(spark, srcRoot).groupBy($"g")
      .agg(sum($"x").as("x_sum"), min($"x").as("x_min"),
        max($"x").as("x_max"), count(lit(1)).as("n"))

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def assertMatches(viewRoot: String, srcRoot: String,
                            cols: Seq[String]): Unit = {
    val got = MatView.read(spark, viewRoot).select(cols.map(col): _*)
    val want = direct(srcRoot).select(cols.map(col): _*)
    assert(rowsOf(got) == rowsOf(want))
  }

  test("delta path: sums/count maintained from the feed alone") {
    val dir = tmp("delta")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    val v0 = MatView.create(spark, view, src, srcKeys = Seq("id", "part"),
      groupCols = Seq("g"), sums = Seq(("x_sum", "x")),
      countAlias = Some("n"))
    assert(v0 == 0)
    assertMatches(view, src, Seq("g", "x_sum", "n"))

    // mixed batch: 30 updates (x shifted), 20 inserts incl. a new group
    val batch = ((0 until 30).map(i =>
        (i * 7, s"p${(i * 7) % 3}", if ((i * 7) % 29 == 0) null
          else s"g${(i * 7) % 7}", Some(500L + i))) ++
      (300 until 320).map(i => (i, "p0", "g_new", Some(i.toLong))))
      .toDF("id", "part", "g", "x")
    VersionedTable.upsert(spark, src, batch, Seq("id", "part"), Seq("part"),
      statsCols = Seq("id"), bloomCols = Seq("g"))
    MatView.refresh(spark, view)
    assertMatches(view, src, Seq("g", "x_sum", "n"))

    // predicate delete clears part of several groups
    VersionedTable.deleteMatching(spark, src, col("id") % 5 === 1)
    MatView.refresh(spark, view)
    assertMatches(view, src, Seq("g", "x_sum", "n"))

    // a refresh with no source change is a version no-op
    val before = VersionedTable.currentVersion(spark, view).get
    assert(MatView.refresh(spark, view) == before)
    assert(VersionedTable.currentVersion(spark, view).get == before)
  }

  test("delta path: group death, rebirth, and all-NULL sums serve NULL") {
    val dir = tmp("death")
    val (src, view) = (s"$dir/src", s"$dir/view")
    // group "solo" has exactly two rows; group "nul" only NULL x values
    VersionedTable.upsert(spark, src, Seq(
      (1, "p0", "solo", Some(10L)), (2, "p0", "solo", Some(20L)),
      (3, "p0", "nul", None), (4, "p1", "keep", Some(5L)))
      .toDF("id", "part", "g", "x"), Seq("id", "part"), Seq("part"))
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")), countAlias = Some("n"))
    // the all-NULL group serves sum NULL (like a direct aggregate), not 0
    val nulRow = MatView.read(spark, view).filter($"g" === "nul").collect()
    assert(nulRow.length == 1 && nulRow.head.isNullAt(1)
      && nulRow.head.getLong(2) == 1L)

    // kill "solo" entirely -> it must vanish from the served view
    VersionedTable.deleteMatching(spark, src, col("g") === "solo")
    MatView.refresh(spark, view)
    assert(MatView.read(spark, view).filter($"g" === "solo").count() == 0)
    assertMatches(view, src, Seq("g", "x_sum", "n"))

    // rebirth with different values -> correct fresh state from zero base
    VersionedTable.upsert(spark, src,
      Seq((9, "p0", "solo", Some(77L))).toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.refresh(spark, view)
    val reborn = MatView.read(spark, view).filter($"g" === "solo")
      .select($"x_sum", $"n").as[(Long, Long)].collect()
    assert(reborn.toSeq == Seq((77L, 1L)))
    assertMatches(view, src, Seq("g", "x_sum", "n"))
  }

  test("recompute path: min/max views stay exact through deletes") {
    val dir = tmp("minmax")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")),
      mins = Seq(("x_min", "x")), maxs = Seq(("x_max", "x")),
      countAlias = Some("n"))
    assertMatches(view, src, Seq("g", "x_sum", "x_min", "x_max", "n"))

    // delete the maxima: a subtractable approach would get this wrong
    VersionedTable.deleteMatching(spark, src, col("x") >= 90)
    MatView.refresh(spark, view)
    assertMatches(view, src, Seq("g", "x_sum", "x_min", "x_max", "n"))

    // update that shifts minima upward in some groups
    VersionedTable.updateMatching(spark, src, col("x") <= 5,
      Map("x" -> (col("x") + lit(1000L))))
    MatView.refresh(spark, view)
    assertMatches(view, src, Seq("g", "x_sum", "x_min", "x_max", "n"))
  }

  test("min/max refresh rescans ONLY groups whose extremum was removed") {
    val dir = tmp("smart")
    val (src, view) = (s"$dir/src", s"$dir/view")
    // group A: values 10,20,30; group B: 5,50
    VersionedTable.upsert(spark, src, Seq(
      (1, "p0", "A", Some(10L)), (2, "p0", "A", Some(20L)),
      (3, "p0", "A", Some(30L)), (4, "p1", "B", Some(5L)),
      (5, "p1", "B", Some(50L))).toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      mins = Seq(("x_min", "x")), maxs = Seq(("x_max", "x")),
      countAlias = Some("n"))
    // delete A's MIDDLE value: neither extremum touched -> zero rescans
    VersionedTable.deleteMatching(spark, src,
      col("g") === "A" && col("x") === 20L)
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups == 0L,
      s"non-extreme removal rescanned ${MatView.lastRescanGroups} groups")
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
    // insert a new maximum: extends via greatest(), still zero rescans
    VersionedTable.upsert(spark, src,
      Seq((6, "p0", "A", Some(99L))).toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups == 0L)
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
    // delete A's MAXIMUM (99): exactly that one group rescans; B's
    // untouched row set must not be re-read into the answer wrongly
    VersionedTable.deleteMatching(spark, src, col("x") === 99L)
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups == 1L,
      s"extreme removal rescanned ${MatView.lastRescanGroups} groups")
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
  }

  test("avg + approx-distinct measures: delta-path inserts union the " +
      "sketch; removals rescan; all-NULL groups serve NULL/0") {
    val dir = tmp("avgdct")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    def truth(): DataFrame =
      VersionedTable.read(spark, src).groupBy($"g")
        .agg(avg($"x").as("x_avg"),
          countDistinct($"x").as("x_dct"), count(lit(1)).as("n"))
    def check(): Unit = {
      val got = MatView.read(spark, view).select($"g", $"x_avg",
        $"x_dct", $"n")
      // seed cardinalities (≤ 101 distinct longs) keep the HLL sketch
      // in its exact sparse mode, so the estimate IS the exact count
      assert(rowsOf(got) == rowsOf(truth().select($"g", $"x_avg",
        $"x_dct", $"n")))
    }
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      avgs = Seq(("x_avg", "x")), distincts = Seq(("x_dct", "x")),
      countAlias = Some("n"))
    check()
    // insert-only batch (new group + new values in old groups): the
    // sketch unions from the feed alone — zero source rescans
    VersionedTable.upsert(spark, src,
      ((300 until 330).map(i => (i, "p0", "g_new", Some(1000L + i % 5))) ++
        (330 until 340).map(i => (i, "p1", "g1", Some(2000L + i))))
        .toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups == 0L,
      s"insert-only refresh rescanned ${MatView.lastRescanGroups} groups")
    check()
    // an all-NULL-measure group: avg serves NULL, distinct serves 0
    VersionedTable.upsert(spark, src,
      Seq((400, "p2", "g_nulls", Option.empty[Long]),
        (401, "p2", "g_nulls", Option.empty[Long]))
        .toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups == 0L)
    check()
    // removals touching non-null values: sketches cannot subtract, so
    // exactly the affected groups rescan and stay exact
    VersionedTable.deleteMatching(spark, src, col("id") % 4 === 2)
    MatView.refresh(spark, view)
    assert(MatView.lastRescanGroups > 0L)
    check()
  }

  test("mass-removal fallback: deleting every group's maximum flips the " +
      "refresh to one full recompute (no group-key broadcast) and the " +
      "view still equals the direct aggregate") {
    val dir = tmp("massrm")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      mins = Seq(("x_min", "x")), maxs = Seq(("x_max", "x")),
      countAlias = Some("n"))
    // delete each group's recorded MAX: every live group's extremum is
    // hit, so the rescan set is 100% of groups — past the fraction, the
    // refresh must take the whole-view recompute instead of
    // broadcasting the full group-key set into the pruned path
    val maxes = VersionedTable.read(spark, src).groupBy($"g")
      .agg(max($"x").as("mx"))
    val hit = VersionedTable.read(spark, src).join(maxes, Seq("g"))
      .filter($"x" === $"mx").select($"id").as[Int].collect().toSet
    VersionedTable.deleteMatching(spark, src, col("id").isin(hit.toSeq: _*))
    MatView.refresh(spark, view)
    assert(MatView.lastFullRecompute,
      s"${MatView.lastRescanGroups} rescan groups should have tripped " +
        "the full-recompute fallback")
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
    // a surgical single-extremum delete afterwards stays on the pruned
    // path (the fallback is a threshold, not a mode switch)
    val one = VersionedTable.read(spark, src)
      .filter($"g" === "g1").groupBy($"g").agg(max($"x").as("mx"))
    val oneId = VersionedTable.read(spark, src).join(one, Seq("g"))
      .filter($"x" === $"mx").select($"id").as[Int].head()
    VersionedTable.deleteMatching(spark, src, col("id") === oneId)
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute && MatView.lastRescanGroups == 1L)
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
    // group death under the fallback: nuke one group entirely along
    // with every remaining group's max — the vanished group must
    // tombstone (served rows drop it), not linger stale
    val maxes2 = VersionedTable.read(spark, src).groupBy($"g")
      .agg(max($"x").as("mx"))
    val hit2 = VersionedTable.read(spark, src).join(maxes2, Seq("g"))
      .filter($"x" === $"mx" || $"g" === "g2")
      .select($"id").as[Int].collect().toSet
    VersionedTable.deleteMatching(spark, src,
      col("id").isin(hit2.toSeq: _*))
    MatView.refresh(spark, view)
    assert(MatView.lastFullRecompute)
    assertMatches(view, src, Seq("g", "x_min", "x_max", "n"))
  }

  test("refresh job counts: sum delta path, max rescan, no-op") {
    val dir = tmp("jobs")
    val (src, sv, mv) = (s"$dir/src", s"$dir/sum", s"$dir/max")
    seed(src)
    MatView.create(spark, sv, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")), countAlias = Some("n"))
    MatView.create(spark, mv, src, Seq("id", "part"), Seq("g"),
      maxs = Seq(("x_max", "x")), countAlias = Some("n"))
    // remove g1's maximum: the sum view folds the feed alone, the max
    // view rescans g1 alone
    val top = VersionedTable.read(spark, src).filter($"g" === "g1")
      .orderBy($"x".desc_nulls_last).select($"id").as[Int].head()
    VersionedTable.deleteMatching(spark, src, col("id") === top)
    val sumPath = jobsAndStages(MatView.refresh(spark, sv))
    val maxPath = jobsAndStages(MatView.refresh(spark, mv))
    assert(!MatView.lastFullRecompute && MatView.lastRescanGroups == 1L)
    val noop = jobsAndStages(MatView.refresh(spark, sv))
    assert((sumPath, maxPath, noop) == ((4, 15), (12, 42), (0, 0)),
      s"sum $sumPath, max $maxPath, no-op $noop (jobs, stages)")
    assertMatches(sv, src, Seq("g", "x_sum", "n"))
    assertMatches(mv, src, Seq("g", "x_max", "n"))
  }

  test("randomized rounds: view == direct aggregate after every refresh") {
    val dir = tmp("rand")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")), mins = Seq(("x_min", "x")),
      maxs = Seq(("x_max", "x")), countAlias = Some("n"))
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { round =>
      rnd.nextInt(4) match {
        case 0 => // upsert a random batch (some new ids, some collisions)
          val base = rnd.nextInt(400)
          val batch = (base until base + 40).map(i =>
            (i, s"p${i % 3}", if (i % 31 == 0) null else s"g${i % 7}",
              if (i % 17 == 0) None else Some(rnd.nextInt(1000).toLong)))
            .toDF("id", "part", "g", "x")
          VersionedTable.upsert(spark, src, batch, Seq("id", "part"), Seq("part"),
            statsCols = Seq("id"), bloomCols = Seq("g"))
        case 1 =>
          val lo = rnd.nextInt(300)
          VersionedTable.deleteMatching(spark, src,
            col("id").between(lo, lo + 30))
        case 2 =>
          VersionedTable.updateMatching(spark, src,
            col("id") % (2 + rnd.nextInt(5)) === 0,
            Map("x" -> (coalesce(col("x"), lit(0L)) + lit(7L))))
        case 3 =>
          // maintenance between refreshes: content tokens carry through
          // the rewrite, so the next refresh sees no phantom changes
          VersionedTable.compact(spark, src)
      }
      MatView.refresh(spark, view)
      assertMatches(view, src, Seq("g", "x_sum", "x_min", "x_max", "n"))
    }
  }

  test("sync cursor survives maintenance + vacuum; create refuses twice") {
    val dir = tmp("vac")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")), countAlias = Some("n"))
    // maintenance commit + aggressive vacuum on the VIEW table: the
    // carried txn watermark keeps the source cursor, so the next
    // refresh is incremental, not a duplicate-building replay
    VersionedTable.compact(spark, view)
    VersionedTable.vacuum(spark, view, keepVersions = 1)
    VersionedTable.upsert(spark, src,
      Seq((1000, "p0", "g0", Some(3L))).toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assertMatches(view, src, Seq("g", "x_sum", "n"))
    intercept[Exception] {
      MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
        sums = Seq(("x_sum", "x")))
    }
  }

  test("failed initial build removes the spec claim — CREATE is retryable") {
    val dir = tmp("retry")
    val (src, view) = (s"$dir/src", s"$dir/view")
    seed(src)
    // a measure over a nonexistent column fails the initial build
    intercept[Exception] {
      MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
        sums = Seq(("x_sum", "no_such_col")))
    }
    // the claim must not be left behind: the corrected CREATE succeeds
    MatView.create(spark, view, src, Seq("id", "part"), Seq("g"),
      sums = Seq(("x_sum", "x")), countAlias = Some("n"))
    assertMatches(view, src, Seq("g", "x_sum", "n"))
  }

  test("CDF feed: update emits pre+post images; delete carries FROM row") {
    val dir = tmp("cdf")
    val src = s"$dir/src"
    VersionedTable.upsert(spark, src, Seq(
      (1, "p0", "a", Some(10L)), (2, "p0", "b", Some(20L)),
      (3, "p1", "c", Some(30L))).toDF("id", "part", "g", "x"),
      Seq("id", "part"), Seq("part"))
    VersionedTable.upsert(spark, src, Seq(
      (2, "p0", "b", Some(25L)), (4, "p1", "d", Some(40L)))
      .toDF("id", "part", "g", "x"), Seq("id", "part"), Seq("part"))
    VersionedTable.deleteMatching(spark, src, col("id") === 3)
    val feed = VersionedTable.changeFeedCdf(spark, src, Seq("id", "part"), 0, 2)
      .select($"op", $"id", $"x").as[(String, Int, Option[Long])]
      .collect().toSet
    assert(feed == Set(
      ("update_preimage", 2, Some(20L)),
      ("update_postimage", 2, Some(25L)),
      ("insert", 4, Some(40L)),
      ("delete", 3, Some(30L))))
    // consistency: the single-image feed is the CDF minus preimages
    val single = VersionedTable.changeFeed(spark, src, Seq("id", "part"), 0, 2)
      .select($"op", $"id", $"x").as[(String, Int, Option[Long])]
      .collect().toSet
    assert(single == Set(
      ("update", 2, Some(25L)),
      ("insert", 4, Some(40L)),
      ("delete", 3, Some(30L))))
  }
}
