package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{JoinMatView, MatView, VersionedTable}

/** Incrementally-maintained aggregate-over-equi-join views
  * (JoinMatView): the view equals a from-scratch aggregate of the
  * CURRENT join after every refresh — across fact-only changes,
  * dim-only attribute changes (rows MOVE between groups), simultaneous
  * two-source changes, group death, mass dim changes (full-recompute
  * fallback), and replays — with both source watermarks committed
  * atomically in one manifest. */
class JoinMatViewSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_jmv_$tag").toString

  /** Fact: (oid, part, cid, amount); dim: (cid, dpart, segment). */
  private def seedFact(root: String): Unit = {
    val rows = (0 until 400).map { i =>
      (i, s"p${i % 4}", (i % 23).toLong,
        if (i % 17 == 0) None else Some(i.toLong % 97))
    }
    VersionedTable.upsert(spark, root,
      rows.toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"),
      statsCols = Seq("oid"), bloomCols = Seq("cid"), fileRows = Some(50))
  }

  private def seedDim(root: String): Unit = {
    val rows = (0L until 23L).map(c => (c, s"d${c % 2}", s"s${c % 5}"))
    VersionedTable.upsert(spark, root,
      rows.toDF("cid", "dpart", "segment"), Seq("cid"), Seq("cid"))
  }

  /** From-scratch truth of the joined aggregate at current versions. */
  private def direct(factRoot: String, dimRoot: String): DataFrame =
    VersionedTable.read(spark, factRoot)
      .join(VersionedTable.read(spark, dimRoot)
        .select($"cid".as("d_cid"), $"segment"),
        $"cid" === $"d_cid", "inner")
      .groupBy($"segment")
      .agg(sum($"amount").as("amt_sum"), avg($"amount").as("amt_avg"),
        count(lit(1)).as("n"))

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def assertMatches(view: String, fact: String,
                            dim: String): Unit = {
    val cols = Seq("segment", "amt_sum", "amt_avg", "n")
    assert(rowsOf(MatView.read(spark, view).select(cols.map(col): _*))
      == rowsOf(direct(fact, dim).select(cols.map(col): _*)))
  }

  test("initial build + fact-only and dim-only deltas match the " +
      "from-scratch join; both stay off the full-recompute path") {
    val dir = tmp("delta")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    val v0 = JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), avgs = Seq(("amt_avg", "amount")),
      countAlias = Some("n"))
    assert(v0 == 0)
    assertMatches(view, fact, dim)
    // both watermarks live in the SAME manifest
    assert(VersionedTable.lastTxn(spark, view, "matviewj:" + fact)
      == Some(0L))
    assert(VersionedTable.lastTxn(spark, view, "matviewjd:" + dim)
      == Some(0L))

    // FACT-only change: updates + inserts + a new fk value that has no
    // dim row (must not contribute) — delta path
    val batch = ((0 until 40).map(i => (i * 9, s"p${(i * 9) % 4}",
        ((i * 9) % 23).toLong, Some(1000L + i))) ++
      Seq((900, "p0", 999L, Some(5L)))) // orphan fk: inner join drops
      .toDF("oid", "part", "cid", "amount")
    VersionedTable.upsert(spark, fact, batch, Seq("oid", "part"),
      Seq("part"), statsCols = Seq("oid"), bloomCols = Seq("cid"))
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute,
      "a surgical fact update must refresh via the delta path")
    assert(JoinMatView.lastDimChangedKeys == 0L)
    assertMatches(view, fact, dim)

    // DIM-only change: one customer MOVES segment (its fact rows move
    // between groups), one new dim row adopts the orphan fk — the
    // F_old ⋈ ΔD leg, pruned to the 2 changed keys
    VersionedTable.upsert(spark, dim,
      Seq((3L, "d1", "s_moved"), (999L, "d1", "s0"))
        .toDF("cid", "dpart", "segment"), Seq("cid"), Seq("cid"))
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute,
      "a surgical dim update must refresh via the delta path")
    assert(JoinMatView.lastDimChangedKeys == 2L)
    assertMatches(view, fact, dim)

    // BOTH sides change before one refresh
    VersionedTable.upsert(spark, fact,
      Seq((901, "p1", 3L, Some(77L))).toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"))
    VersionedTable.upsert(spark, dim,
      Seq((7L, "d1", "s_moved")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute)
    assertMatches(view, fact, dim)

    // no-op replay: no version, watermarks unchanged
    val before = VersionedTable.currentVersion(spark, view).get
    assert(MatView.refresh(spark, view) == before)
    assert(VersionedTable.currentVersion(spark, view).get == before)

    // SQL surface: graft_view dispatches to the join-backed reader
    val viaSql = spark.sql(
      s"SELECT segment, amt_sum, n FROM graft_view('$view')")
      .collect().map(_.mkString("|")).toSet
    assert(viaSql == MatView.read(spark, view)
      .select($"segment", $"amt_sum", $"n")
      .collect().map(_.mkString("|")).toSet)
  }

  test("fact deletes, group death via dim delete, and all-NULL sums") {
    val dir = tmp("death")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), avgs = Seq(("amt_avg", "amount")),
      countAlias = Some("n"))
    // fact predicate delete clears slices of several groups
    VersionedTable.deleteMatching(spark, fact, col("oid") % 3 === 1)
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute)
    assertMatches(view, fact, dim)
    // delete every dim row of segment s4 (cids 4,9,14,19) — the group
    // dies; read() hides its tombstone
    VersionedTable.deleteMatching(spark, dim, col("segment") === "s4")
    MatView.refresh(spark, view)
    assertMatches(view, fact, dim)
    assert(!MatView.read(spark, view).collect()
      .exists(_.getString(0) == "s4"))
    // group REBIRTH: a dim row brings s4 back with fresh fact rows
    VersionedTable.upsert(spark, dim,
      Seq((4L, "d0", "s4")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    MatView.refresh(spark, view)
    assertMatches(view, fact, dim)
    // all-NULL measure group serves NULL sum/avg like a direct agg:
    // give cid 21's rows (segment s1) NULL amounts is already seeded
    // via i % 17; instead pin a fresh dim key with only-NULL facts
    VersionedTable.upsert(spark, dim,
      Seq((500L, "d0", "s_null")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    VersionedTable.upsert(spark, fact,
      Seq((950, "p0", 500L, None: Option[Long]),
        (951, "p1", 500L, None: Option[Long]))
        .toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assertMatches(view, fact, dim)
    val nullRow = MatView.read(spark, view)
      .filter($"segment" === "s_null").collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(1) &&
      nullRow.head.isNullAt(2) && nullRow.head.getLong(3) == 2L)
  }

  test("mass dim change takes the full-recompute fallback and still " +
      "matches; a later surgical change returns to the delta path") {
    val dir = tmp("mass")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), countAlias = Some("n"))
    def matchesSumN(): Unit = {
      val sel = Seq("segment", "amt_sum", "n")
      assert(rowsOf(MatView.read(spark, view).select(sel.map(col): _*))
        == rowsOf(direct(fact, dim).select(sel.map(col): _*)))
    }
    matchesSumN()
    // re-segment EVERY customer: 23/23 changed keys > rescanFraction
    VersionedTable.upsert(spark, dim,
      (0L until 23L).map(c => (c, s"d${c % 2}", s"t${c % 3}"))
        .toDF("cid", "dpart", "segment"), Seq("cid"), Seq("cid"))
    MatView.refresh(spark, view)
    assert(MatView.lastFullRecompute,
      "a whole-dim rewrite must take the full-recompute fallback")
    matchesSumN()
    // stale groups from before the rewrite are tombstoned, not served
    assert(MatView.read(spark, view).collect()
      .forall(_.getString(0).startsWith("t")))
    // surgical follow-up: back on the delta path
    VersionedTable.upsert(spark, dim,
      Seq((11L, "d1", "t_solo")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute)
    matchesSumN()
  }

  test("refresh job counts: fact-only, dim-only, mass-dim fallback, " +
      "no-op") {
    val dir = tmp("jobs")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), avgs = Seq(("amt_avg", "amount")),
      countAlias = Some("n"))
    VersionedTable.upsert(spark, fact,
      Seq((901, "p1", 3L, Some(77L))).toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"))
    val factOnly = jobsAndStages(MatView.refresh(spark, view))
    assert(!MatView.lastFullRecompute && JoinMatView.lastDimChangedKeys == 0L)
    VersionedTable.upsert(spark, dim,
      Seq((3L, "d1", "s_moved")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    val dimOnly = jobsAndStages(MatView.refresh(spark, view))
    assert(!MatView.lastFullRecompute && JoinMatView.lastDimChangedKeys == 1L)
    VersionedTable.upsert(spark, dim,
      (0L until 23L).map(c => (c, s"d${c % 2}", s"t${c % 3}"))
        .toDF("cid", "dpart", "segment"), Seq("cid"), Seq("cid"))
    val mass = jobsAndStages(MatView.refresh(spark, view))
    assert(MatView.lastFullRecompute)
    val noop = jobsAndStages(MatView.refresh(spark, view))
    assert((factOnly, dimOnly, mass, noop) ==
      ((5, 16), (9, 28), (8, 27), (0, 0)),
      s"fact-only $factOnly, dim-only $dimOnly, mass-dim $mass, " +
        s"no-op $noop (jobs, stages)")
    assertMatches(view, fact, dim)
  }

  test("create-time refusals: ambiguous column, dim-pk reference, " +
      "unknown column, missing measure, and a failed create leaves " +
      "no spec behind") {
    val dir = tmp("refuse")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    // dim attr colliding with a fact column name
    val dim2 = s"$dir/dim2"
    VersionedTable.upsert(spark, dim2,
      Seq((1L, "d0", 5L)).toDF("cid", "dpart", "amount"),
      Seq("cid"), Seq("cid"))
    val amb = intercept[IllegalArgumentException](
      JoinMatView.create(spark, view, fact, dim2, Seq("cid"),
        Seq("dpart"), sums = Seq(("s", "amount"))))
    assert(amb.getMessage.contains("both"), amb.getMessage)
    // the dim pk must be referenced via the fact fk
    val pk = intercept[IllegalArgumentException](
      JoinMatView.create(spark, view, fact, dim, Seq("cid"),
        Seq("segment"), sums = Seq(("s", "amount")),
        avgs = Seq(("a", "cid2"))))
    // unknown column
    assert(pk.getMessage.contains("neither side"), pk.getMessage)
    intercept[IllegalArgumentException](
      JoinMatView.create(spark, view, fact, dim, Seq("cid"),
        Seq("segment")))
    // every refusal above must have cleaned its claim: a valid create
    // at the same root now succeeds
    JoinMatView.create(spark, view, fact, dim, Seq("cid"),
      Seq("segment"), countAlias = Some("n"))
    assertMatches2(view, fact, dim)
  }

  private def assertMatches2(view: String, fact: String,
                             dim: String): Unit = {
    val got = MatView.read(spark, view)
      .select($"segment", $"n").collect().map(_.mkString("|")).toSet
    val want = direct(fact, dim)
      .select($"segment", $"n").collect().map(_.mkString("|")).toSet
    assert(got == want)
  }

  test("group columns from BOTH sides and a composite fact key") {
    val dir = tmp("both")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment", "part"),
      sums = Seq(("amt_sum", "amount")), countAlias = Some("n"))
    def truth(): Set[String] = VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, dim)
        .select($"cid".as("d_cid"), $"segment"),
        $"cid" === $"d_cid", "inner")
      .groupBy($"segment", $"part")
      .agg(sum($"amount").as("amt_sum"), count(lit(1)).as("n"))
      .collect().map(_.mkString("|")).toSet
    def served(): Set[String] = MatView.read(spark, view)
      .select($"segment", $"part", $"amt_sum", $"n")
      .collect().map(_.mkString("|")).toSet
    assert(served() == truth())
    VersionedTable.upsert(spark, dim,
      Seq((5L, "d1", "s_x")).toDF("cid", "dpart", "segment"),
      Seq("cid"), Seq("cid"))
    VersionedTable.upsert(spark, fact,
      Seq((991, "p2", 5L, Some(13L))).toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"))
    MatView.refresh(spark, view)
    assert(!MatView.lastFullRecompute)
    assert(served() == truth())
  }

  test("SQL REFRESH MATERIALIZED VIEW dispatches join-backed views") {
    val dir = tmp("sqlrefresh")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), countAlias = Some("n"))
    VersionedTable.upsert(spark, fact,
      Seq((992, "p1", 3L, Some(55L))).toDF("oid", "part", "cid", "amount"),
      Seq("oid", "part"), Seq("part"))
    // the SQL surface must refresh what graft_view can read
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$view`")
    val n = spark.sql(s"SELECT sum(n) FROM graft_view('$view')")
      .first.getLong(0)
    assert(n == VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, dim)
        .select($"cid".as("d_cid")), $"cid" === $"d_cid").count())
  }

  test("SQL DELETE, UPDATE and MERGE on a join view are refused") {
    val dir = tmp("dml")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), avgs = Seq(("amt_avg", "amount")),
      countAlias = Some("n"))
    val before = VersionedTable.currentVersion(spark, view)
    Seq(s"DELETE FROM graft.`$view` WHERE segment = 's0'",
      s"UPDATE graft.`$view` SET n = 0 WHERE segment = 's0'",
      s"""MERGE INTO graft.`$view` t USING (SELECT 's0' AS segment) s
         |ON t.segment = s.segment
         |WHEN MATCHED THEN DELETE""".stripMargin).foreach { stmt =>
      val e = intercept[IllegalArgumentException](spark.sql(stmt))
      assert(e.getMessage.contains("materialized view"),
        s"$stmt: ${e.getMessage}")
    }
    assert(VersionedTable.currentVersion(spark, view) == before)
    val cols = Seq("segment", "amt_sum", "amt_avg", "n")
    assert(rowsOf(spark.sql(s"SELECT * FROM graft_view('$view')")
      .select(cols.map(col): _*)) ==
      rowsOf(direct(fact, dim).select(cols.map(col): _*)))
  }

  test("startMatViewRefresh keeps a join view current") {
    val dir = tmp("metronome")
    val (fact, dim, view) = (s"$dir/fact", s"$dir/dim", s"$dir/view")
    seedFact(fact); seedDim(dim)
    JoinMatView.create(spark, view, fact, dim,
      fkCols = Seq("cid"), groupCols = Seq("segment"),
      sums = Seq(("amt_sum", "amount")), avgs = Seq(("amt_avg", "amount")),
      countAlias = Some("n"))
    val q = graft.streaming.StreamPipeline.startMatViewRefresh(spark, view,
      pollInterval = "100 milliseconds")
    try {
      VersionedTable.upsert(spark, fact,
        Seq((993, "p1", 4L, Some(21L))).toDF("oid", "part", "cid", "amount"),
        Seq("oid", "part"), Seq("part"))
      VersionedTable.upsert(spark, dim,
        Seq((6L, "d0", "s_moved")).toDF("cid", "dpart", "segment"),
        Seq("cid"), Seq("cid"))
      val cols = Seq("segment", "amt_sum", "amt_avg", "n")
      def synced =
        rowsOf(MatView.read(spark, view).select(cols.map(col): _*)) ==
          rowsOf(direct(fact, dim).select(cols.map(col): _*))
      val end = System.currentTimeMillis + 30000
      while (!synced && System.currentTimeMillis < end) Thread.sleep(100)
      assertMatches(view, fact, dim)
    } finally q.stop()
  }
}
