package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Footer-based file statistics (the zero-job commit path) must be
  * value-identical with the read-back aggregation they replace: same
  * per-file min/max/null-count renderings across every supported column
  * type, same per-dir row/file counts, and pruning must keep biting on
  * footer-collected manifests. The scan path is the reference: it runs
  * over the footer commit's own generation, and the INT96, NaN and
  * signed-zero fallbacks that take it are pinned here too. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_fstat_$tag")
      .toString + "/table"

  /** The widest-typed frame the stat renderer supports, plus the types
    * it must refuse gracefully: nulls sprinkled per column, one
    * partition all-null for `i_allnull`, ±0.0 in the doubles (NaN has
    * its own re-scan test below), unicode + empty strings, both decimal
    * physical layouts. */
  private def wideFrame(): DataFrame = {
    val rows = (0 until 400).map { i =>
      val grp = s"g${i % 3}"
      (
        i,                                                    // id
        grp,                                                  // grp
        if (i % 11 == 0) None else Some((i % 100).toByte),
        if (i % 13 == 0) None else Some((i * 3).toShort),
        if (i % 7 == 0) None else Some(i - 200),
        if (i % 5 == 0) None else Some(i * 1000000007L - 3L),
        if (i % 17 == 0) None
        else Some(if (i % 19 == 0) 40.05f else i * 0.5f - 7f),
        if (i % 23 == 0) None
        else Some(
          if (i % 31 == 0) -0.0d
          else if (i % 37 == 0) 0.0d
          else i * 1.25d - 100d),
        if (i % 9 == 0) None
        else if (i % 10 == 0) Some("")
        else if (i % 12 == 0) Some(s"n\u00e4\u00efve-\u00e9\u4e2d$i")
        else Some(s"s%02d-$i".format(i % 40)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 90)),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(i * 61L).plusNanos((i % 1000) * 1000L)),
        if (i % 8 == 0) None else Some(i % 2 == 0),
        // all-null in grp g1, valued elsewhere: the only-null file case
        if (grp == "g1" || i % 4 == 0) None else Some(i * 2),
        new java.math.BigDecimal(s"${i - 150}.${"%02d".format(i % 100)}")
      )
    }
    val df = rows.toDF("id", "grp", "c_byte", "c_short", "c_int", "c_long",
      "c_float", "c_double", "c_str", "c_date", "c_ts", "c_bool",
      "i_allnull", "c_dec_raw")
    df.withColumn("c_dec9", col("c_dec_raw").cast("decimal(9,2)"))
      .withColumn("c_dec20", col("c_dec_raw").cast("decimal(20,4)"))
      .drop("c_dec_raw")
  }

  private val statCols = Seq("c_byte", "c_short", "c_int", "c_long",
    "c_float", "c_double", "c_str", "c_date", "c_ts", "c_bool",
    "i_allnull", "c_dec9", "c_dec20")

  /** filesMeta rows keyed per partition as a multiset of rendered stat
    * maps (file NAMES differ between two identical writes — uuids). */
  private def statsByDir(root: String)
      : Map[String, Seq[Map[String, (Option[String], Option[String], Long)]]] =
    VersionedTable.filesMeta(spark, root)
      .select("partition", "stats").collect().toSeq
      .map { r =>
        val m = r.getAs[Map[String, Row]]("stats").map { case (c, s) =>
          c -> ((Option(s.getAs[String]("min")),
            Option(s.getAs[String]("max")), s.getAs[Long]("nulls")))
        }
        (r.getAs[String]("partition"), m)
      }
      .groupBy(_._1)
      .map { case (d, xs) =>
        d -> xs.map(_._2).sortBy(_.toSeq.sortBy(_._1).mkString("|"))
      }

  /** Footer-collected stats must equal scan-collected stats EXACTLY —
    * same entries, same rendered values, same null counts. Anything the
    * footer cannot decode re-scans the whole generation (the
    * decodeFooterStats needScan contract), so there is no
    * "conservative" difference to tolerate: the metadata min/max fold
    * depends on stats meaning the same thing however they were
    * collected. */
  private def assertParity(
      f: Map[String, Seq[Map[String, (Option[String], Option[String], Long)]]],
      s: Map[String, Seq[Map[String, (Option[String], Option[String], Long)]]])
      : Unit = {
    assert(f.keySet == s.keySet)
    for (d <- f.keySet) {
      assert(f(d).size == s(d).size, s"file count differs in $d")
      f(d).zip(s(d)).foreach { case (fm, sm) =>
        assert(fm == sm, s"stat mismatch in $d:\nfooter: $fm\nscan:   $sm")
      }
    }
  }

  test("footer stats == scan stats across every supported type") {
    val root = fresh("parity")
    VersionedTable.upsert(spark, root, wideFrame(), Seq("id", "grp"),
      Seq("grp"), statsCols = statCols)
    val m = VersionedTable.resolveManifest(spark, root, None)
    val fs = VersionedTable.fsFor(spark, root)
    val (footer, _) = m.materializeIdx(fs, root)
    // the read-back aggregation over the same generation's files
    val (scan, _, scanRows, scanFiles, scanBytes) =
      VersionedTable.collectFileStatsScan(spark, root, "gen0", Seq("grp"),
        statCols)
    assert(footer.nonEmpty)
    assert(footer.keySet == scan.keySet)
    footer.keys.foreach(f => assert(footer(f) == scan(f),
      s"stat mismatch in $f:\nfooter: ${footer(f)}\nscan:   ${scan(f)}"))
    // the all-null partition records a PROVABLY only-null entry
    // (min=max=None with nulls>0 — range pruning may skip it)
    val g1 = statsByDir(root)("grp=g1").head("i_allnull")
    assert(g1._1.isEmpty && g1._2.isEmpty && g1._3 > 0L)
    // per-dir counts identical too (footer path derives rows from block
    // row counts, scan from count(1))
    assert(m.dirRows == scanRows)
    assert(m.dirFiles == scanFiles)
    assert(m.dirBytes == scanBytes)
  }

  test("footer-collected manifests still prune reads and upserts") {
    val root = fresh("prune")
    VersionedTable.upsert(spark, root, wideFrame(), Seq("id", "grp"),
      Seq("grp"), statsCols = Seq("c_long", "c_str", "c_ts"))
    // a needle range over the clustered long column must skip files
    val (kept, total) = VersionedTable.skipStats(spark, root, "c_long",
      java.lang.Long.valueOf(0L), java.lang.Long.valueOf(1000000007L))
    assert(total > 0, "no indexed files — footer stats were not recorded")
    assert(kept < total, s"no pruning: kept $kept of $total")
    val got = VersionedTable.readWhere(spark, root, "c_long",
      java.lang.Long.valueOf(0L), java.lang.Long.valueOf(1000000007L))
      .filter(col("c_long").between(0L, 1000000007L)).count()
    assert(got == 1L)
    // timestamp pruning (INT64-micros footers) matches a full-scan filter
    val lo = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T01:00:00Z"))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T02:00:00Z"))
    val pruned = VersionedTable.readWhere(spark, root, "c_ts", lo, hi)
      .filter(col("c_ts").between(lo, hi)).count()
    val full = VersionedTable.read(spark, root)
      .filter(col("c_ts").between(lo, hi)).count()
    assert(pruned == full && full > 0)
  }

  test("NaN-bearing float/double generations re-scan: stats keep max=NaN") {
    // parquet omits float/double bounds from a NaN-bearing chunk's
    // footer; the fold contract (fastMinMax == aggregate scan) needs
    // the scan's exact max=NaN, so such generations must fall back —
    // their recorded stats are indistinguishable from scan-collected
    val root = fresh("nan")
    val df = (0 until 90).map { i =>
      (i, s"g${i % 2}",
        if (i == 17) Double.NaN else i * 0.5 - 3,
        if (i == 40) Float.NaN else i * 2f)
    }.toDF("id", "grp", "dd", "ff")
    VersionedTable.upsert(spark, root, df, Seq("id", "grp"), Seq("grp"),
      statsCols = Seq("dd", "ff"))
    val byDir = statsByDir(root)
    val d17 = byDir("grp=g1").head("dd") // NaN row 17 lands in g1
    assert(d17._2.contains("NaN"), s"expected scan-exact max=NaN: $d17")
    val f40 = byDir("grp=g0").head("ff") // NaN row 40 lands in g0
    assert(f40._2.contains("NaN"), s"expected scan-exact max=NaN: $f40")
    // and the fold still covers the table provably
    val mm = VersionedTable.fastMinMax(spark, root, "ff")
    assert(mm.exists(_._2.asInstanceOf[Float].isNaN), s"fold lost: $mm")
  }

  test("±0.0-bounded float/double generations re-scan: parquet's " +
      "total-order zero differs from the aggregate's order-dependent one") {
    // measured divergence: min over {0.0, -0.0, 1.0} is +0.0 from
    // Spark's aggregate but -0.0 from the footer's total order — and
    // the metadata fold serves the recorded value as an ANSWER, so an
    // ambiguous zero bound must take the scan, not a weaker entry
    val root = fresh("zero")
    val df = (0 until 60).map { i =>
      (i, s"g${i % 2}",
        // g0: min is -0.0 with +0.0 present (ambiguous min)
        // g1: max is +0.0 with negatives below (ambiguous max)
        if (i % 2 == 0) { if (i == 0) -0.0d else if (i == 2) 0.0d else i * 1.0d }
        else { if (i == 1) 0.0d else -i * 1.0d })
    }.toDF("id", "grp", "dd")
    VersionedTable.upsert(spark, root, df, Seq("id", "grp"), Seq("grp"),
      statsCols = Seq("dd"))
    // stats exist (the scan fallback recorded them) and the fold equals
    // the aggregate EXACTLY, signed zeros included
    val mm0 = VersionedTable.fastMinMax(spark, root, "dd").get
    val agg = VersionedTable.read(spark, root)
      .agg(min($"dd"), max($"dd")).collect()(0)
    assert(java.lang.Double.compare(
      mm0._1.asInstanceOf[Double], agg.getDouble(0)) == 0,
      s"fold min ${mm0._1} != aggregate ${agg.getDouble(0)}")
    assert(java.lang.Double.compare(
      mm0._2.asInstanceOf[Double], agg.getDouble(1)) == 0,
      s"fold max ${mm0._2} != aggregate ${agg.getDouble(1)}")
  }

  test("INT96 sessions fall back to the scan path with identical stats") {
    val df = wideFrame()
    val rootI = fresh("i96")
    val rootM = fresh("micros")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try VersionedTable.upsert(spark, rootI, df, Seq("id", "grp"),
      Seq("grp"), statsCols = statCols)
    finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    VersionedTable.upsert(spark, rootM, df, Seq("id", "grp"), Seq("grp"),
      statsCols = statCols)
    // same rendered stats for every column INCLUDING c_ts: the INT96
    // commit detected the undecodable physical type and re-scanned
    val i = statsByDir(rootI)
    val m = statsByDir(rootM)
    assertParity(f = m, s = i)
    assert(i.values.flatten.exists(_.get("c_ts").exists(_._1.nonEmpty)),
      "INT96 fallback lost timestamp stats — the scan re-read didn't run")
  }

  test("decodeFooterStats: multi-row-group files combine chunk bounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fstat_rg")
      .toString
    val df = spark.range(300000).select(
      col("id").cast("long").as("v"),
      concat(lit("k"), lpad((col("id") % 1000).cast("string"), 4, "0"))
        .as("s"))
    // tiny row groups force several blocks per file
    df.coalesce(1).write.option("parquet.block.size", 64 * 1024)
      .parquet(s"$dir/t")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val (rows, cols, int96) = VersionedTable.decodeFooterStats(
      spark.sessionState.newHadoopConf(), file.toString,
      Map("v" -> "long", "s" -> "string"))
    assert(!int96)
    assert(rows == 300000L)
    val blocks = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(), file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.size
    assert(blocks > 1, s"expected several row groups, got $blocks")
    assert(cols("v").contains((Some("0"), Some("299999"), 0L)))
    assert(cols("s").contains((Some("k0000"), Some("k0999"), 0L)))
  }
}
