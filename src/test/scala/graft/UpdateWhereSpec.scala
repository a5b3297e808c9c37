package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Index-targeted UPDATE: the third leg of the DML triangle. */
class UpdateWhereSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String): FileSystem = FileSystem.get(
    java.net.URI.create(root), spark.sparkContext.hadoopConfiguration)

  /** The generation dir `rel` is mapped to NOW. Generations are
    * immutable, so listing files under gen0 can never detect a rewrite —
    * a rewrite stages a NEW generation and repoints the mapping; "still
    * gen0" is the byte-identity proof. */
  private def genOf(root: String, rel: String): String =
    VersionedTable.resolveManifest(spark, root, None).mapping(rel)

  /** 400 rows over 4 partitions; v clustered so [60,110] hits g1/g2. */
  private def freshTable(tag: String): (String, Seq[(Int, String, Int, Long)]) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_upd_$tag").toString
    val root = s"$dir/table"
    val rows = (0 until 400).map { i =>
      val g = i / 100
      (i, s"g$g", g * 50 + (i % 100) / 4, i.toLong * 10)
    }
    VersionedTable.upsert(spark, root, rows.toDF("id", "grp", "v", "w"),
      Seq("id", "grp"), Seq("grp"), statsCols = Seq("v"), fileRows = Some(25))
    (root, rows)
  }

  test("updateWhere: window rows updated, untouched dirs byte-identical") {
    val (root, rows) = freshTable("basic")
    val v1 = VersionedTable.updateWhere(spark, root, "v", 60, 110,
      Map("w" -> (col("w") + 1000000L)), fileRows = Some(25))
    assert(v1 == 1)
    val got = VersionedTable.read(spark, root)
      .select($"id", $"w").as[(Int, Long)].collect().toMap
    val expect = rows.map { r =>
      r._1 -> (if (r._3 >= 60 && r._3 <= 110) r._4 + 1000000L else r._4)
    }.toMap
    assert(got == expect)
    // v (the predicate column) untouched everywhere
    assert(VersionedTable.read(spark, root)
      .select($"id", $"v").as[(Int, Int)].collect().toMap ==
      rows.map(r => r._1 -> r._3).toMap)
    // the index proves g0/g3 cannot match: still mapped to gen0
    assert(genOf(root, "grp=g0") == "gen0")
    assert(genOf(root, "grp=g3") == "gen0")
    // time travel sees the original values
    assert(VersionedTable.read(spark, root, Some(0))
      .filter($"w" >= 1000000L).count() == 0)
    // rewritten dirs keep index coverage
    val (kept, total) = VersionedTable.skipStats(spark, root, "v", 0, 10)
    assert(kept < total, s"post-update stats missing: $kept/$total")
    // a window no file can hold is a provable no-op
    assert(VersionedTable.updateWhere(spark, root, "v", 5000, 6000,
      Map("w" -> lit(0L))) == 1)
  }

  test("updateWhere: SET right-hand sides see the OLD row (swap works)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upd_swap").toString
    val root = s"$dir/table"
    VersionedTable.upsert(spark, root,
      Seq((1, "a", 10L, 20L), (2, "a", 30L, 40L)).toDF("id", "p", "x", "y"),
      Seq("id", "p"), Seq("p"))
    VersionedTable.updateWhere(spark, root, "id", 1, 1,
      Map("x" -> col("y"), "y" -> col("x")))
    val got = VersionedTable.read(spark, root)
      .select($"id", $"x", $"y").as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 20L, 10L), (2, 30L, 40L)))
  }

  test("updateWhere on a PARTITION-column predicate touches exactly that dir") {
    val (root, rows) = freshTable("partpred")
    VersionedTable.updateWhere(spark, root, "grp", "g1", "g1",
      Map("w" -> lit(-1L)), fileRows = Some(25))
    val got = VersionedTable.read(spark, root)
      .select($"id", $"w").as[(Int, Long)].collect().toMap
    val expect = rows.map { r =>
      r._1 -> (if (r._2 == "g1") -1L else r._4) }.toMap
    assert(got == expect)
    assert(genOf(root, "grp=g0") == "gen0")
    assert(genOf(root, "grp=g2") == "gen0")
    assert(genOf(root, "grp=g1") != "gen0")
  }

  test("updateWhere after a DV delete: dead rows stay dead and materialize") {
    val (root, rows) = freshTable("dv")
    VersionedTable.deleteWhereDV(spark, root, "v", 60, 80)
    VersionedTable.updateWhere(spark, root, "v", 60, 110,
      Map("w" -> lit(7L)), fileRows = Some(25))
    val got = VersionedTable.read(spark, root)
      .select($"id", $"w").as[(Int, Long)].collect().toMap
    val expect = rows.filter(r => r._3 < 60 || r._3 > 80).map { r =>
      r._1 -> (if (r._3 >= 60 && r._3 <= 110) 7L else r._4) }.toMap
    assert(got == expect)
    // the rewrite materialized the touched dirs' DVs
    assert(VersionedTable.dvStats(spark, root).isEmpty)
  }

  test("updateWhereIn: key-list correction, byte-identity off-list dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upd_in").toString
    val root = s"$dir/table"
    // uid clustered per partition: victims all in g0 leave g1 untouched
    val rows = (0 until 400).map(i => (i.toLong, s"g${i / 200}", i.toLong))
    VersionedTable.upsert(spark, root, rows.toDF("uid", "grp", "w"),
      Seq("uid", "grp"), Seq("grp"), statsCols = Seq("uid"),
      fileRows = Some(25))
    val victims: Seq[Any] = Seq(5L, 17L, 130L, null)
    VersionedTable.updateWhereIn(spark, root, "uid", victims,
      Map("w" -> lit(-1L)), fileRows = Some(25))
    val got = VersionedTable.read(spark, root)
      .select($"uid", $"w").as[(Long, Long)].collect().toMap
    val vset = Set(5L, 17L, 130L)
    assert(got == rows.map(r =>
      r._1 -> (if (vset(r._1)) -1L else r._3)).toMap)
    assert(genOf(root, "grp=g1") == "gen0")
    // empty / all-null / miss lists commit nothing
    assert(VersionedTable.updateWhereIn(spark, root, "uid", Nil,
      Map("w" -> lit(0L))) == 1)
    assert(VersionedTable.updateWhereIn(spark, root, "uid", Seq(null),
      Map("w" -> lit(0L))) == 1)
    assert(VersionedTable.history(spark, root) == (0 to 1))
  }

  test("materializeDvs rewrites only dense-DV dirs; maintain composes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val root = s"$dir/table"
    // g0 gets a DENSE delete (50% of its rows), g1 a sparse one (2 rows)
    val rows = (0 until 400).map { i =>
      val g = i / 200
      (i, s"g$g", (g * 1000 + (i % 200)).toLong)
    }
    VersionedTable.upsert(spark, root, rows.toDF("id", "grp", "v"),
      Seq("id", "grp"), Seq("grp"), statsCols = Seq("v"), fileRows = Some(25))
    VersionedTable.deleteWhereDV(spark, root, "v", 0L, 99L)      // g0: 100/200
    VersionedTable.deleteWhereDV(spark, root, "v", 1000L, 1001L) // g1: 2/200
    val v = VersionedTable.materializeDvs(spark, root, minFraction = 0.1,
      fileRows = Some(25))
    assert(v == 3)
    // g0's vectors materialized, g1's sparse ones carried untouched
    val left = VersionedTable.dvStats(spark, root)
    assert(left.map(_._2).sum == 2 && left.forall(_._1.contains("grp=g1")),
      s"expected only g1's sparse DVs to remain: $left")
    assert(genOf(root, "grp=g1") == "gen0")
    assert(genOf(root, "grp=g0") != "gen0")
    assert(VersionedTable.read(spark, root).count() == 400 - 102)
    // maintain: no-op on a healthy table (commits NOTHING)...
    val idle = VersionedTable.maintain(spark, root, maxFilesPerDir = 16,
      maxDvFraction = 0.1, keepVersions = 10)
    assert(idle == VersionedTable.MaintenanceReport(None, None))
    val histBefore = VersionedTable.history(spark, root)
    // ...and acts when thresholds trip: drop the DV threshold under g1's
    // sparse fraction
    val act = VersionedTable.maintain(spark, root, maxFilesPerDir = 16,
      maxDvFraction = 0.001, keepVersions = 10)
    assert(act.materializedDvs.nonEmpty && act.compactedSmallFiles.isEmpty)
    assert(VersionedTable.dvStats(spark, root).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 400 - 102)
    assert(VersionedTable.history(spark, root).size == histBefore.size + 1)
  }

  test("updateMatching: compound predicate, index-cleared dirs intact") {
    val (root, rows) = freshTable("matching")
    // v-range (file stats) AND partition exclusion AND a residual on w
    val v1 = VersionedTable.updateMatching(spark, root,
      col("v").between(60, 110) && col("grp") =!= "g2" &&
        (col("w") % 20 === 0),
      Map("w" -> (col("w") + 1000000L)), fileRows = Some(25))
    assert(v1 == 1)
    val got = VersionedTable.read(spark, root)
      .select($"id", $"w").as[(Int, Long)].collect().toMap
    val expect = rows.map { r =>
      val hit = r._3 >= 60 && r._3 <= 110 && r._2 != "g2" && r._4 % 20 == 0
      r._1 -> (if (hit) r._4 + 1000000L else r._4)
    }.toMap
    assert(got == expect)
    // the v-range clears g0 (v in [0,24]) and g3 (v in [150,174]); the
    // partition fact clears g2 OUTRIGHT even though its v-range [100,124]
    // overlaps the predicate window
    assert(genOf(root, "grp=g0") == "gen0")
    assert(genOf(root, "grp=g3") == "gen0")
    assert(genOf(root, "grp=g2") == "gen0")
    assert(genOf(root, "grp=g1") != "gen0")
    // guards shared with the delete flavor
    intercept[IllegalArgumentException] {
      VersionedTable.updateMatching(spark, root,
        org.apache.spark.sql.functions.rand() < 0.5, Map("w" -> lit(0L)))
    }
  }

  test("updateWhere guards: partition SET and unknown columns rejected") {
    val (root, _) = freshTable("guards")
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, "v", 0, 10,
        Map("grp" -> lit("gX")))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, "v", 0, 10,
        Map("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, "v", 0, 10, Map.empty)
    }
    assert(VersionedTable.history(spark, root) == Seq(0))
  }

  test("UPDATE checks its SET map even when no file can match") {
    val (root, _) = freshTable("setcheck")
    // v tops out at 174: the stats index proves no file holds v = 5000
    val ops: Seq[Map[String, org.apache.spark.sql.Column] => Int] = Seq(
      set => VersionedTable.updateWhere(spark, root, "v", 5000, 6000, set),
      set => VersionedTable.updateWhereIn(spark, root, "v", Seq(5000), set),
      set => VersionedTable.updateMatching(spark, root, col("v") === 5000, set))
    ops.foreach { op =>
      val bad = intercept[IllegalArgumentException] {
        op(Map("no_such_col" -> lit(1L)))
      }
      assert(bad.getMessage.contains(
        "SET column no_such_col is not in the table schema"))
      val empty = intercept[IllegalArgumentException](op(Map.empty))
      assert(empty.getMessage.contains("UPDATE needs at least one SET column"))
      // a valid SET map where nothing matches stays a no-op
      assert(op(Map("w" -> lit(0L))) == 0)
    }
    assert(VersionedTable.history(spark, root) == Seq(0))
  }
}
