package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.FuzzyDedup
import graft.model.Schemas
import graft.multimodal.Multimodal
import graft.ops._
import graft.sim.{Quantize, Similarity}
import graft.text.TextAnalysis

/**
 * Driver contract: one `queries` entry (+ DuckDB `oracleSql` where the
 * semantics are ANSI-SQL-expressible) per implemented operator from
 * SURVEY.md §2, plus the beyond-reference training-data-pipeline operators
 * (dedup / similarity / text / multimodal).
 *
 * Determinism rules used throughout (SURVEY §7.3):
 *  - ordered first/last via min_by/max_by on a unique-per-group ordering
 *    column (event ts is unique per event_type even at µs precision);
 *  - floating aggregates rounded on BOTH sides (r6 for avgs/stddevs, r2 for
 *    large sums) so partial-aggregation order cannot flip the hash compare;
 *  - integer-valued doubles (l_quantity) and long sums (user_id) are exact
 *    in any summation order and stay unrounded;
 *  - DuckDB regexp_replace always gets the 'g' flag (Spark's is global by
 *    default);
 *  - events.ts normalizes to µs TimestampType whatever the lake wrote
 *    (nanosecond INT64 via nanosAsLong+truncate, or plain µs — see
 *    Ingest.events); every oracle reference is CAST(ts AS TIMESTAMP),
 *    which lands on the identical µs instant in either generation.
 */
object SparkEntry {

  /** Fixture stopwatch for the bench's fixture/query cost split: the
    * versioned-lake queries build multi-commit disk fixtures EVERY rep
    * (two table writes + commits before the operator under test runs),
    * so their raw wall prices the build, not the engine. Queries wrap
    * setup work in [[fixture]]; [[graft.Bench]] resets per rep and
    * subtracts the accumulated seconds, emitting a `queries_fixture`
    * map so round-over-round diffs can compare engine work alone.
    * ThreadLocal — PAR-concurrent bench queries each run all their reps
    * on one pool thread and must not cross-pollute. No-op for Verify
    * (nothing reads the counter there). */
  private val fixtureNanos = new ThreadLocal[java.lang.Long] {
    override def initialValue: java.lang.Long = 0L
  }
  private def fixture[A](f: => A): A = {
    val s = System.nanoTime()
    try f
    finally fixtureNanos.set(fixtureNanos.get + (System.nanoTime() - s))
  }
  private[graft] def resetFixtureClock(): Unit = fixtureNanos.set(0L)
  private[graft] def fixtureSeconds: Double = fixtureNanos.get / 1e9

  private def r6(c: Column): Column = round(c, 6)
  /** Tie-immune average of 2-decimal-true values: round the sum where no
    * rounding boundary is reachable, then divide — both engines compute the
    * identical double, so no final rounding (round(avg, 6) ties whenever a
    * group count is 32*odd: the true 7-decimal average ends in 5 and the
    * engines' rounding rules disagree — seen at sf0.1). */
  private def exactAvg(sumCol: Column, nCol: Column): Column =
    round(sumCol, 4) / nCol
  private def r4(c: Column): Column = round(c, 4)
  private def r2(c: Column): Column = round(c, 2)

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Ingest.table(s, dir, name)
  private def ev(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)

  /** DuckDB-side equivalent of the µs-truncated event time. */
  private val TS = "CAST(ts AS TIMESTAMP)"

  /** Shared by q_merge_upsert / q_merge_upsert_pruned / q_merge_versioned:
    * all three sinks must reproduce the same logical MERGE row set. */
  private lazy val mergeUpsertOracle =
    s"""WITH daily_all AS (
       |  SELECT event_type, CAST(ts AS DATE) AS date,
       |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
       |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
       |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
       |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
       |      AS daily_change
       |  FROM events GROUP BY 1, 2),
       |target AS (SELECT * FROM daily_all WHERE date <= DATE '2024-01-20'),
       |upd_all AS (
       |  SELECT event_type, CAST(ts AS DATE) AS date,
       |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
       |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
       |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
       |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
       |      AS daily_change
       |  FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2),
       |upd AS (SELECT * FROM upd_all WHERE date >= DATE '2024-01-15')
       |SELECT * FROM upd
       |UNION ALL
       |SELECT t.* FROM target t WHERE NOT EXISTS (
       |  SELECT 1 FROM upd u
       |  WHERE u.event_type = t.event_type AND u.date = t.date)"""
      .stripMargin

  // ---------------------------------------------------------------- scans

  private def qScanParquet(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")

  /** S1+S7 CSV roundtrip: parquet -> raw-zone CSV -> schema'd CSV scan.
    * Exercises the reference's landing-zone shape (header CSV, explicit
    * schema, no inference). Doubles survive: Spark writes round-trip-exact
    * representations. */
  private def qScanCsv(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_csv_roundtrip/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = ev(s, dir).select(col("event_id"), col("event_type"),
      col("user_id"), col("value"))
    Ingest.writeCsv(src, path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    Ingest.readCsv(s, path, schema)
  }

  /** ORC write-read roundtrip (columnar twin of the CSV leg): numeric and
    * string values survive exactly; the oracle reads the ORIGINAL rows. */
  private def qScanOrc(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_orc_roundtrip/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Ingest.writeOrc(ev(s, dir).select(col("event_id"), col("event_type"),
      col("user_id"), col("value")), path)
    Ingest.readOrc(s, path)
  }

  // --------------------------------------------- projections/filters/casts

  private def qProjectAlias(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(
      col("l_orderkey").as("okey"),
      col("l_linenumber").as("line_no"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))

  private def qProjectDrop(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).drop("props")

  private def qCast(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(
      col("l_orderkey").cast(StringType).as("okey_str"),
      col("l_quantity").cast(IntegerType).as("qty_int"),
      col("l_shipdate").cast(DateType).as("ship_date"))

  private def qFilterNotNull(s: SparkSession, dir: String): DataFrame =
    Clean.filterNotNull(ev(s, dir), Seq("event_type", "value", "ts"))
      .select("event_id", "event_type", "value")

  private def qFilterRange(s: SparkSession, dir: String): DataFrame =
    Clean.qualityCounts(ev(s, dir),
      nonPositive = col("value") <= 0,
      future = col("ts") > lit("2024-01-16 00:00:00").cast(TimestampType))

  private def qProjectSubset(s: SparkSession, dir: String): DataFrame =
    Clean.subset(tbl(s, dir, "orders"),
      Seq("o_orderkey", "o_totalprice", "o_orderdate"))

  private def qStructExtract(s: SparkSession, dir: String): DataFrame =
    TimeWindows.flattenWindow(
      ev(s, dir).groupBy(col("event_type"),
          window(col("ts"), "15 minutes").as("window"))
        .agg(count(lit(1)).as("n_events")))
      .select("event_type", "window_start", "window_end", "n_events")

  // ---------------------------------------------------------- aggregations

  private def qAggAvgStddevSum(s: SparkSession, dir: String): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = "15 minutes"))
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma"),
        r6(col("volatility")).as("volatility"),
        col("volume_sum"), col("n_events"))

  /** Flagship (A2): OHLC-style multi-aggregate per (key, 15-min window). */
  private def qAggOhlcWindow(s: SparkSession, dir: String): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.ohlcWindow(ev(s, dir), "event_type", "ts", "value",
        "15 minutes"))
      .select(col("event_type"), col("window_start"), col("window_end"),
        col("first_ts"), col("last_ts"), col("open"), col("high"),
        col("low"), col("close"),
        exactAvg(col("value_sum"), col("n_events")).as("avg_value"),
        r6(col("volatility")).as("volatility"), col("n_events"),
        r4(col("value_sum")).as("value_sum"))

  private def qAggDailyOhlcv(s: SparkSession, dir: String): DataFrame =
    TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"))
      .withColumn("daily_change", r4(col("daily_change")))

  /** Exact interpolated quantiles per key — the quality-cutoff shape of a
    * training-data pipeline (e.g. drop docs below the p10 quality score). */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy(col("event_type")).agg(
      r6(expr("percentile(value, 0.5)")).as("p50"),
      r6(expr("percentile(value, 0.9)")).as("p90"),
      r6(expr("percentile(value, 0.99)")).as("p99"),
      count(lit(1)).as("n"))

  /** Sketch-quantile invariant: percentile_approx returns a corpus element
    * whose RANK is within eps = 1/accuracy of the target; the exact
    * interpolated quantiles at p ± 10·eps therefore bracket it. Exact
    * bounds are oracle-computable; the flags assert a healthy sketch. */
  private def qQuantilesBounds(s: SparkSession, dir: String): DataFrame = {
    val eps10 = 10.0 / 10000
    val ps = Seq(0.25, 0.5, 0.75)
    val aggs = ps.flatMap { p =>
      val t = (p * 100).toInt
      Seq(r6(expr(s"percentile(l_extendedprice, $p)")).as(s"p${t}_exact"),
        expr(s"percentile(l_extendedprice, ${math.max(0, p - eps10)})")
          .as(s"__lo$t"),
        expr(s"percentile(l_extendedprice, ${math.min(1, p + eps10)})")
          .as(s"__hi$t"),
        expr(s"percentile_approx(l_extendedprice, $p, 10000)").as(s"__a$t"))
    }
    val flags = ps.map { p =>
      val t = (p * 100).toInt
      (col(s"__a$t") >= col(s"__lo$t") && col(s"__a$t") <= col(s"__hi$t"))
        .as(s"p${t}_within_bounds")
    }
    tbl(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      .select(ps.map(p => col(s"p${(p * 100).toInt}_exact")) ++ flags: _*)
  }

  /** Top-3 line items per return flag by price — the per-group-k shape
    * (WindowGroupLimit bounds the buffer; see TopK.topKPerGroup). */
  private def qTopkGroup(s: SparkSession, dir: String): DataFrame =
    TopK.topKPerGroup(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc), k = 3)
      .select("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice", "rank")

  /** ROLLUP subtotal hierarchy: one Expand + one aggregate, not L passes. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Rollup.rollupAgg(tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      Seq(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows")))

  /** CUBE cross-grains: all four (flag, status) subsets in one Expand. */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    Rollup.cubeAgg(tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      Seq(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows")))

  /** Explicit GROUPING SETS — only the two single-key grains, no cross. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Rollup.groupingSetsAgg(tbl(s, dir, "lineitem"),
      Seq(Seq("l_returnflag"), Seq("l_linestatus")),
      Seq("l_returnflag", "l_linestatus"),
      Seq(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows")))

  /** Fixed-value-list pivot: linestatus F/O as columns, one aggregate. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Rollup.pivotAgg(tbl(s, dir, "lineitem"), "l_returnflag",
        "l_linestatus", Seq("F", "O"), sum(col("l_quantity")))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")

  /** UNPIVOT: the three lineitem money/quantity measures melted to long
    * (measure, value) rows — the inverse reshape of q_pivot. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Rollup.unpivotMeasures(tbl(s, dir, "lineitem"),
      ids = Seq("l_orderkey", "l_linenumber"),
      measures = Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** Morton z-values for the (event_id, user_id) plane — the layout key
    * behind ZOrder.clusterByZ; pure bit arithmetic, hash-checked. */
  private def qZorder(s: SparkSession, dir: String): DataFrame =
    ZOrder.withZValue(ev(s, dir).select("event_id", "user_id"),
        "event_id", "user_id")
      .select("event_id", "user_id", "zval")

  /** Deterministic 1-in-10 systematic sample — replayable on any engine. */
  private def qSample(s: SparkSession, dir: String): DataFrame =
    Sampling.modSample(ev(s, dir), "event_id", k = 10, r = 3)
      .select("event_id", "user_id", "event_type", "value")

  /** Per-stratum fixed-size deterministic sample (5 smallest event ids per
    * event type). */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedFixed(ev(s, dir), Seq("event_type"), "event_id", k = 5)
      .select("event_type", "event_id", "user_id", "value")

  /** Deterministic 80/10/10 corpus split: membership from md5(doc_id), so
    * the split replays identically on any engine (the 8-hex-digit
    * thresholds ARE fractions of 2^32 — Curate.hexThreshold). */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    Curate.hashSplit(
      tbl(s, dir, "documents").select("doc_id", "lang", "source"),
      col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")

  /** Deterministic weighted source mixture: src0 kept whole, src1 halved,
    * src2 quartered, src3 at 10%, every other source dropped — corpus
    * blending as a pure narrow filter. */
  private def qMixture(s: SparkSession, dir: String): DataFrame =
    Curate.mixtureSample(
      tbl(s, dir, "documents").select("doc_id", "source", "lang"),
      "source", col("doc_id"),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))

  /** Per-type two-feature OLS: value ~ user_id + hour-of-day. Closed-form
    * normal equations on 4dp-rounded sums (Cramer), so the oracle combines
    * identical doubles through the identical expression tree. */
  private def qOls(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.olsTwoFeature(
      ev(s, dir).withColumn("hod", hour(col("ts"))),
      Seq("event_type"), "value", "user_id", "hod")

  /** Per-type z-score standardization of event values (feature scaling). */
  private def qStandardize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.standardize(
        ev(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value")
      .select(col("event_id"), col("event_type"), r6(col("z")).as("z"))

  /** Language rebalancing: the raw corpus is ~42% English; balanceBy
    * down-samples every language to an equal 20% share at the largest
    * feasible output size (M = min n_g/t_g — the rarest language is kept
    * whole). Keep-rates are data-derived, thresholds data-dependent —
    * the oracle recomputes the whole chain. */
  private def qBalance(s: SparkSession, dir: String): DataFrame =
    Curate.balanceBy(
      tbl(s, dir, "documents").select("doc_id", "lang", "source"),
      "lang", col("doc_id"),
      Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2))

  /** Epoch-repetition mixture: src0 x2.5 (two full copies + half-chance
    * third), src1 x1, src2 x0.5, everything else dropped. */
  private def qMixtureRepeat(s: SparkSession, dir: String): DataFrame =
    Curate.mixtureRepeat(
      tbl(s, dir, "documents").select("doc_id", "source", "lang"),
      "source", col("doc_id"),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5))
      .select("doc_id", "source", "lang", "copy_id")

  /** Token-budget sequence packing (concat-and-chunk, 512-token packs per
    * language): one window pass, running-sum start offsets. */
  private def qPack(s: SparkSession, dir: String): DataFrame =
    Curate.tokenPack(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      partitionCols = Seq("lang"), order = Seq(col("doc_id")),
      tokensCol = "n_tokens", budget = 512L)

  /** Pack assembly: 512-token packs per language materialized as one
    * concatenated training sequence each; the sequence is md5'd so the full
    * assembled text is hash-compared without shipping it. */
  private def qPackAssemble(s: SparkSession, dir: String): DataFrame = {
    val packed = Curate.tokenPack(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("text"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      partitionCols = Seq("lang"), order = Seq(col("doc_id")),
      tokensCol = "n_tokens", budget = 512L)
    Curate.assemblePacks(packed, Seq("lang"), Seq("doc_id"), "text")
      .select(col("lang"), col("pack_id"), col("n_docs"),
        length(col("seq_text")).as("seq_len"),
        md5(col("seq_text")).as("seq_md5"))
  }

  /** Sliding 128-token chunks with 32-token overlap per document — one
    * explode, no shuffle; chunk bounds are pure integer arithmetic. */
  private def qChunk(s: SparkSession, dir: String): DataFrame =
    Curate.chunkByTokens(
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      tokensCol = "n_tokens", size = 128, overlap = 32)
      .select("doc_id", "chunk_id", "tok_start", "tok_end")

  /** Corpus snapshot diff: a deterministic "v2" is derived from the base
    * corpus (drop ids %17, edit ids %7, add ids %29 re-keyed), then diffed
    * back — added/removed/changed, unchanged rows never leave the join. */
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "documents").select("doc_id", "text")
    val v2 = base.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit("!")))
          .otherwise(col("text")))
      .unionByName(base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Merge.snapshotDiff(base, v2, Seq("doc_id"), Seq("text"))
  }

  /** Leakage-safe split: documents are split by their dedup-cluster
    * CANONICAL id (min doc id of the jaccard>=0.5 component), so
    * near-duplicates can never straddle train/test — the contamination
    * guard a real corpus split needs. Composes the shared verified-pair
    * index -> connected components -> hashSplit on the component key. */
  private def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select("doc_id", "lang")
    val comp = FuzzyDedup.connectedComponents(
      docPairs01(s, dir).filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2")))
    val canon = docs
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("canonical", coalesce(col("comp"), col("doc_id")))
    Curate.hashSplit(canon.select("doc_id", "lang", "canonical"),
      col("canonical"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
  }

  /** Heavy hitters via Misra-Gries + exact re-count of survivors: languages
    * above a 20% corpus share. Only 'en' qualifies at every shipped scale
    * (~41% vs <=16% runners-up), and the output is exact counts, so the
    * sketch's order-dependent internals never reach the hash compare. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    Frequency.heavyHitters(tbl(s, dir, "documents"), "lang",
      k = 16, minFraction = 0.2)

  /** Incremental dedup: the %10==0 slice of documents plays the daily
    * batch, deduped AGAINST the remaining corpus — the corpus is never
    * self-joined (FuzzyDedup.jaccardPairsAgainst scaladoc). Both sides
    * cut from the SESSION-persisted shingle index ([[docShingles]]),
    * so the corpus tokenizes once per session, not once per run — the
    * cold cost that made repeated executions bimodal. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val tagged = docShingles(s, dir)
      .join(docBlocks(s, dir, "lang"), "id")
      .select(col("id"), col("block"), col("h64").as("shingle"))
    FuzzyDedup.jaccardPairsAgainstFromShingles(
        tagged.filter(col("id") % 10 === 0),
        tagged.filter(col("id") % 10 =!= 0), minJaccard = 0.3)
      .select(col("new_id"), col("corpus_id"), col("n_common"), col("n1"),
        col("n2"), r6(col("jaccard")).as("jaccard"))
  }

  /** CDC-maintained LSH dedup index under oracle check: the corpus
    * (all documents minus the batch) builds the index ONCE; the
    * new batch (doc_id % 10 == 0) lands in
    * the source table and an INCREMENTAL refresh re-bands only the feed
    * (guard pins feed-sized work — no corpus re-shingle, no rebuild);
    * the oracled output is the batch's exact-verified near-dup pairs
    * against the corpus, probed THROUGH the index buckets. Hash-equal
    * to the capless exact all-pairs answer because at 64 perms / 32
    * bands a true-Jaccard>=0.7 pair is missed with p < 1e-9. */
  private def qDedupIndex(s: SparkSession, dir: String): DataFrame = {
    val stage = "/tmp/graft_dedup_index/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (src, idx) = (s"$stage/src", s"$stage/idx")
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    fixture {
      rmrf(s, stage)
      VersionedTable.upsert(s, src,
        docs.filter(col("doc_id") % 10 =!= 0),
        Seq("doc_id", "lang"), Seq("lang"))
      graft.dedup.DedupIndex.create(s, idx, src, "doc_id", "text",
        shingleN = 3, numPerm = 64, bands = 32)
      VersionedTable.upsert(s, src, batch, Seq("doc_id", "lang"),
        Seq("lang"))
    }
    graft.dedup.DedupIndex.refresh(s, idx)
    require(!graft.dedup.DedupIndex.lastRefreshRebuild &&
      graft.dedup.DedupIndex.lastRefreshDocs == batch.count(),
      s"refresh was not incremental: rebuild=" +
        s"${graft.dedup.DedupIndex.lastRefreshRebuild} docs=" +
        s"${graft.dedup.DedupIndex.lastRefreshDocs}")
    graft.dedup.DedupIndex.verifiedPairs(s, idx, batch, 0.7)
      .filter(col("corpus_id") % 10 =!= 0)
      .select(col("new_id"), col("corpus_id"), col("n_common"),
        col("n1"), col("n2"), r6(col("jaccard")).as("jaccard"))
  }

  /** Grouped bivariate stats: how extended price tracks quantity per
    * return flag — corr/covar/OLS in one partial-aggregable pass. */
  private def qStatsBivariate(s: SparkSession, dir: String): DataFrame =
    Stats.bivariate(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
      x = "l_quantity", y = "l_extendedprice")

  /** Tukey-fence outliers per event type (fences rounded r6 before the
    * boundary compare — see Stats.iqrOutliers scaladoc). */
  private def qOutliers(s: SparkSession, dir: String): DataFrame =
    Stats.iqrOutliers(ev(s, dir), Seq("event_type"), "value")

  /** Top-20 session-opening journeys: most common first-3-event paths
    * per 30-minute gap session across all users. */
  private def qTopPaths(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.topPaths(ev(s, dir), "user_id", "ts", "event_id",
      "event_type", gapMinutes = 30, maxLen = 3, k = 20)

  /** Source-diversity monitor: Shannon entropy of the source distribution
    * per language — drops when one crawl dominates a slice. */
  private def qEntropy(s: SparkSession, dir: String): DataFrame =
    Stats.entropy(tbl(s, dir, "documents"), Seq("lang"), "source")

  /** Link-graph importance over the co-purchase part graph: PageRank
    * (damping 17/20, 3 iterations) in int64 fixed-point — every score an
    * exact long, so the iterative result is oracle-checkable (the oracle
    * unrolls the 3 iterations as chained CTEs; no float drift to hide
    * behind). */
  private def qPagerank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRankFixedPoint(
        graft.ops.Graph.coOccurrenceEdges(tbl(s, dir, "lineitem"),
          group = "l_orderkey", item = "l_partkey"),
        iters = 3)
      .select(col("id").as("part_id"), col("s").as("score"))

  /** Label-propagation communities over the co-purchase graph: 3
    * synchronous min-tie rounds — deterministic, oracle-replayable. */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.labelPropagation(
        graft.ops.Graph.coOccurrenceEdges(tbl(s, dir, "lineitem"),
          group = "l_orderkey", item = "l_partkey"),
        iters = 3)
      .select(col("id").as("part_id"), col("community"))

  /** Per-part triangle counts + local clustering coefficient over the
    * co-purchase graph — degree-oriented wedge counting (all exact
    * integers; cc is the one divide). */
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleStats(
      graft.ops.Graph.coOccurrenceEdges(tbl(s, dir, "lineitem"),
        group = "l_orderkey", item = "l_partkey"))

  /** Weighted PageRank over the same co-purchase graph: mass flows
    * proportionally to co-purchase multiplicity (s·w DIV strength). */
  private def qPagerankWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRankWeightedFixedPoint(
        graft.ops.Graph.coOccurrenceEdgesWeighted(tbl(s, dir, "lineitem"),
          group = "l_orderkey", item = "l_partkey"),
        iters = 3)
      .select(col("id").as("part_id"), col("s").as("score"))

  /** MAD robust outliers per event type (consistency factor folded into
    * k — see Stats.madOutliers scaladoc; k = 3×1.4826 ≈ 3σ). */
  private def qOutliersMad(s: SparkSession, dir: String): DataFrame =
    Stats.madOutliers(ev(s, dir), Seq("event_type"), "value",
      k = 4.4478)

  /** First-order Markov transition matrix over each user's event stream
    * — which event type follows which, with row-normalized probability. */
  private def qMarkov(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.transitionMatrix(ev(s, dir), "user_id", evOrder,
      "event_type")

  /** Bigram LM quality score per document (self-trained corpus model) —
    * higher avg log-likelihood = more corpus-like text. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.text.LangModel.scoreDocs(docs, docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("avg_logprob")).as("avg_logprob"))
  }

  /** One-scan column profile of the events table (nulls / distincts /
    * numeric ranges per column, unpivoted from a single agg row). */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Stats.profile(ev(s, dir),
      Seq("event_id", "user_id", "event_type", "value"))

  /** Cross-series co-movement: correlation of every event-type pair's
    * hourly average value over aligned buckets. */
  private def qSeriesCorr(s: SparkSession, dir: String): DataFrame =
    Stats.alignedSeriesCorr(ev(s, dir), "event_type", "ts", "value",
      bucketSeconds = 3600L, minOverlap = 10L)

  /** SCD2 history: each user's event log becomes validity-interval rows
    * (event_id tiebreak makes the intervals total-order deterministic). */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    Merge.scd2(ev(s, dir).select("user_id", "ts", "event_id", "value"),
        keys = Seq("user_id"), ts = "ts", tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("value"),
        col("effective_from"), col("effective_to"), col("is_current"))

  private def qCount(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))

  private def qDupCheck(s: SparkSession, dir: String): DataFrame =
    Dedup.dupCheck(ev(s, dir), Seq("user_id"))

  private def qDistinctCount(s: SparkSession, dir: String): DataFrame =
    Dedup.distinctCounts(tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_partkey", "l_suppkey"))

  /** HLL sketch validated against exact counts — the within-rsd flags are
    * oracle-checkable (exact side + a healthy-sketch invariant), unlike the
    * raw estimate whose value is engine-specific. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Dedup.approxDistinctBounds(tbl(s, dir, "lineitem"),
      Seq("l_partkey", "l_orderkey"))

  private def qDedupKeepLast(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLast(ev(s, dir), keys = Seq("user_id"),
        order = Seq("ts", "event_id"))
      .select("event_id", "user_id", "event_type", "value")

  /** TPC-H Q1-shaped pricing summary — the canonical scan-filter-agg
    * benchmark shape (filter pushes to parquet, map-side partial agg). */
  private def qTpchQ1(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        r4(sum(col("l_extendedprice"))).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (round(sum(col("l_extendedprice")), 4) / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Set vs multiset comparison of the two doc-id parity halves' (lang,
    * source) pairs: INTERSECT/EXCEPT plus their ALL variants in one tagged
    * result. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val a = docs.filter(col("doc_id") % 2 === 0).select("lang", "source")
    val b = docs.filter(col("doc_id") % 2 === 1).select("lang", "source")
    Combine.setCompare(a, b)
  }

  /** Exact interpolated quartiles per event type (percentile_cont
    * semantics), one row per (group, q) — complements the approx-sketch
    * quantile queries with the exact path. */
  private def qPercentileExact(s: SparkSession, dir: String): DataFrame =
    Stats.exactPercentiles(ev(s, dir), Seq("event_type"), "value",
      Seq(0.25, 0.5, 0.75))

  /** Per-event-type modal user (categorical mode, deterministic ties). */
  private def qMode(s: SparkSession, dir: String): DataFrame =
    Stats.modePerGroup(ev(s, dir), Seq("event_type"), "user_id")

  /** 3-D z-order value over (event_id, user_id, value) — the N-dimensional
    * generalization of q_zorder's 2-D magic-mask interleave. */
  private def qZorderNd(s: SparkSession, dir: String): DataFrame =
    ZOrder.withZValueN(ev(s, dir).select("event_id", "user_id", "value"),
      Seq("event_id", "user_id", "value"))

  /** Salted fact-dim join on the (skewed, low-cardinality) event_type key:
    * output must be row-identical to the plain join — salting is invisible
    * in the result. */
  private def qJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val facts = ev(s, dir).select("event_id", "event_type", "value")
    val dim = ev(s, dir).select("event_type").distinct()
      .withColumn("type_tag", upper(col("event_type")))
    Skew.saltedJoin(facts, dim, Seq("event_type"))
  }

  /** Rolling 15-row quantity/price correlation per return flag. The
    * synthetic lineitem repeats (orderkey, linenumber), so the frame order
    * extends through (partkey, suppkey) and the two measures themselves —
    * unique at every SF, making frame contents engine-independent. */
  private def qWindowCorr(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.rollingCorr(
      tbl(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_returnflag", "l_quantity",
        "l_extendedprice"),
      "l_returnflag",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_quantity"),
      "l_quantity", "l_extendedprice", Seq(15))

  /** Winsorize event values to per-type [p01, p99] exact fences. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    Stats.winsorize(ev(s, dir).select("event_id", "event_type", "value"),
      Seq("event_type"), "value")

  /** Dynamic-property explode: events.props JSON objects to (key, value)
    * rows, aggregated per key. */
  private def qMapExplode(s: SparkSession, dir: String): DataFrame =
    Clean.explodeJsonMap(ev(s, dir).select("event_id", "props"),
        "props", "int")
      .groupBy("prop_key")
      .agg(count(lit(1)).as("n"), sum("prop_val").as("sum_val"),
        min("prop_val").as("min_val"), max("prop_val").as("max_val"))

  /** Hourly resampled value panel per event type: last observation per
    * hour, dense grid over each type's observed range, forward-filled. */
  private def qResample(s: SparkSession, dir: String): DataFrame =
    Resample.resampleLast(ev(s, dir), Seq("event_type"), "ts", "value",
        step = "1 hour", tiebreak = Seq("event_id"))
      .select("event_type", "grid_ts", "v_last", "is_gap", "value_ff")

  /** Linear interpolation over the hourly panel: interior gaps take the
    * line between their non-null neighbors (exact epoch-second
    * arithmetic, one divide — bit-identical cross-engine); edge gaps
    * stay null. */
  private def qInterpolate(s: SparkSession, dir: String): DataFrame =
    Resample.backwardFill(
      Resample.interpolate(
        Resample.resampleLast(ev(s, dir), Seq("event_type"), "ts", "value",
          step = "1 hour", tiebreak = Seq("event_id")),
        Seq("event_type"), "grid_ts", "v_last"),
      Seq("event_type"), Seq("grid_ts"), "v_last")
      .select("event_type", "grid_ts", "v_last", "is_gap", "v_interp",
        "value_bf")

  /** Fixed-range value histogram per event type: 25 bins over [0, 500). */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    Stats.histogram(ev(s, dir), Seq("event_type"), "value",
      lo = 0.0, hi = 500.0, nbins = 25)

  /** Value-distribution drift per event type between the first half of the
    * month (dates ≤ Jan 15) and the rest — PSI over the q_histogram grid. */
  private def qPsi(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val cut = lit("2024-01-15").cast(DateType)
    graft.ops.Stats.psi(
      e.filter(to_date(col("ts")) <= cut),
      e.filter(to_date(col("ts")) > cut),
      Seq("event_type"), "value", lo = 0.0, hi = 500.0, nbins = 25)
  }

  /** Bounded symmetric drift on the q_psi split: Jensen-Shannon
    * divergence over the same clamped 25-bin grid (jsd_norm ∈ [0,1] —
    * thresholds transfer across features, unlike PSI's unbounded tail). */
  private def qJsd(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val cut = lit("2024-01-15").cast(DateType)
    graft.ops.Stats.jsDivergence(
      e.filter(to_date(col("ts")) <= cut),
      e.filter(to_date(col("ts")) > cut),
      Seq("event_type"), "value", lo = 0.0, hi = 500.0, nbins = 25)
  }

  /** Two-sample KS statistic on the q_psi split: max |CDF_a − CDF_b|
    * over the binned grid — exact int64 cumulative counts, one divide
    * per CDF point. */
  private def qKs(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val cut = lit("2024-01-15").cast(DateType)
    graft.ops.Stats.ksStatistic(
      e.filter(to_date(col("ts")) <= cut),
      e.filter(to_date(col("ts")) > cut),
      Seq("event_type"), "value", lo = 0.0, hi = 500.0, nbins = 25)
  }

  /** Top-50 PMI collocations (adjacent-pair associations, support ≥ 5)
    * over the documents corpus — every ln takes an exact count, so raw
    * pmi is a portable sort key; display values r6. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.collocations(tbl(s, dir, "documents"), "doc_id",
      "text", minCount = 5L, topK = 50)

  /** TPC-H Q3-shaped shipping-priority top-k: filter three tables, join,
    * aggregate revenue per order, take the top 10 by ROUNDED revenue with
    * an orderkey tiebreak (raw-double ordering can flip at 1 ulp across
    * engines). customer is NOT hint-broadcast: at real scale the filtered
    * segment is still tens of millions of rows — AQE decides at runtime. */
  private def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast(TimestampType)
    val c = tbl(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier revenue: the distinguishing constraint
    * is c_nationkey = s_nationkey — customer and supplier must share a
    * nation, which joins the two dimension ARMS of the star to each other,
    * not just to the fact. nation/region broadcast (tiny by contract);
    * orders/customer/supplier flow through AQE-planned joins. */
  private def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TimestampType)
    val hi = lit("1998-01-01").cast(TimestampType)
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(tbl(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
  }

  /** TPC-H Q22 shape (global-sales-opportunity): scalar-subquery threshold
    * + NOT EXISTS — customers with above-average positive balance and no
    * URGENT orders (synthetic order coverage is dense, so the classic
    * no-orders-at-all cut is empty at small SFs), counted per nation. The
    * average is the exactAvg form (4dp-rounded sum / count) so the >
    * threshold cut selects the same customer set in both engines; the
    * 1-row threshold broadcasts; the anti side is pre-filtered before the
    * join (pushdown-visible). */
  private def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val thr = c.filter(col("c_acctbal") > 0.0)
      .agg(exactAvg(sum(col("c_acctbal")), count(col("c_acctbal")))
        .as("__avg_bal"))
    c.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(tbl(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), r2(sum(col("c_acctbal"))).as("totacctbal"))
  }

  /** TPC-H Q4 shape (order-priority checking): EXISTS semi-join — orders
    * in a quarter having at least one LATE lineitem (shipdate more than
    * 90 days after the order date; the reference tables carry no
    * commit/receipt dates, so lateness is vs the order date), counted per
    * priority. The semi join keeps the orders side un-duplicated no matter
    * how many lineitems match — the property EXISTS exists for. */
  private def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1996-04-01").cast(TimestampType))
    val l = tbl(s, dir, "lineitem")
    o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): the outer-join
    * double-aggregate family — the join-side filter must live in the JOIN
    * (a WHERE would silently drop orderless customers and their 0 bucket),
    * count(o_orderkey) NULL-skips so unmatched customers land at c_count=0,
    * and the second aggregate histograms the first. Plan: the priority
    * filter reaches the orders parquet scan (PushedFilters), both
    * aggregates partial-combine before their exchanges, and the second's
    * key space is |distinct order counts| — tiny at any scale. */
  private def qTpchQ13(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders")
          .filter(!col("o_orderpriority").startsWith("1")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated scalar
    * aggregate family — "lineitems whose quantity is below half their
    * part's average". Decorrelated Spark-style: the per-part average is a
    * plain aggregate joined back on l_partkey (Catalyst plans the same
    * thing for a correlated subquery; writing it as agg-then-join keeps
    * the per-part aggregate reusable and lets AQE size the join). The
    * brand cut shrinks the part side to ~4% BEFORE both the avg join and
    * the revenue sum; the average is exactAvg so the threshold cut picks
    * the identical row set in both engines. avg_yearly divides a rounded
    * sum by a constant — bit-identical, no re-rounding. */
  private def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").filter(col("p_brand") === "Brand#23")
      .select("p_partkey")
    // brand cut FIRST: the per-part average only matters for Brand#23
    // partkeys and each part's lineitems all survive a partkey semi —
    // so aggregating the filtered fact gives the identical averages over
    // ~4% of the input, and the avg side stays join-sized (|brand
    // parts|) instead of |all parts| at 100 TB.
    val l = tbl(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val perPart = l.groupBy(col("l_partkey").as("a_partkey"))
      .agg(exactAvg(sum(col("l_quantity")), count(lit(1))).as("avg_qty"))
    l.join(perPart, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg((r4(sum(col("l_extendedprice"))) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): an OR of
    * AND-triples spanning BOTH join sides (part brand/size × lineitem
    * quantity). The join key stays a clean equi-join on partkey with the
    * disjunction as a post-join filter; the common bounds that every arm
    * implies (quantity ≤ 30, size ≥ 1) are conjunctive and push to the
    * scans. Grouped by brand so each arm's contribution is visible. */
  private def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").select("p_partkey", "p_brand", "p_size")
    val l = tbl(s, dir, "lineitem")
      .filter(col("l_quantity") <= 30.0)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val arms =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#24" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(arms)
      .groupBy(col("p_brand"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"), count(lit(1)).as("n_items"))
  }

  /** TPC-H Q18 shape (large-volume customers): the HAVING-IN family — a
    * grouped-HAVING subquery used as a semi-join filter, then re-joined
    * for the detail row. The qualifying-order set (sum qty > 300 ≈ top
    * 0.2%) is computed ONCE with map-side partial sums; orders semi-joins
    * against it (no duplication), and only the qualifying orders'
    * lineitems are re-aggregated for the display sum. Top-k by
    * (totalprice desc, orderkey) is TakeOrderedAndProject — no global
    * sort. */
  private def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem").select("l_orderkey", "l_quantity")
    val big = l.groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    tbl(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(tbl(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the hardest
    * correlation pattern — one semi-join AND one anti-join against the
    * same table with different-supplier predicates. A late lineitem
    * (shipped >90 days after the order date — the synthetic tables carry
    * no commit/receipt dates, same adaptation as q_tpch_q4) on a
    * finished order counts against its supplier iff the order has
    * another supplier's lineitem (semi) but NO other supplier shipped
    * late on it (anti). Both probes are equi-joins on orderkey with the
    * supplier-inequality as a join residual; the late set is computed
    * once and reused as probe-side for the anti. */
  private def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey",
      "l_shipdate")
    // materialized: `late` probes BOTH the semi and the anti join below,
    // and only exchange reuse would otherwise keep the lineitem-orders
    // join from running twice (same discipline as FuzzyDedup's pair
    // outputs — the late set is orders-of-magnitude smaller than the
    // join that builds it)
    val late = l
      .join(tbl(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("l_orderkey", "l_suppkey")
      .localCheckpoint()
    val l2 = l.select(col("l_orderkey").as("x_orderkey"),
      col("l_suppkey").as("x_suppkey"))
    val late3 = late.select(col("l_orderkey").as("y_orderkey"),
      col("l_suppkey").as("y_suppkey"))
    late
      .join(l2, col("l_orderkey") === col("x_orderkey") &&
        col("l_suppkey") =!= col("x_suppkey"), "left_semi")
      .join(late3, col("l_orderkey") === col("y_orderkey") &&
        col("l_suppkey") =!= col("y_suppkey"), "left_anti")
      .join(broadcast(tbl(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q14 shape (promo-revenue ratio): conditional aggregation — two
    * sums over the same scan separated only by a CASE, never two scans.
    * Grouped by ship month so the ratio trend is visible. Both sums are
    * 4dp-rounded before the division (identical doubles in, IEEE divide
    * out — no re-rounding needed). */
  private def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"))
      .agg((lit(100.0) *
        r4(sum(when(col("p_type") === "PROMO", vol).otherwise(0.0))) /
        r4(sum(vol))).as("promo_revenue"))
  }

  /** TPC-H Q8 shape (national market share): two-level conditional
    * aggregation over a 5-table star — the numerator is the SAME sum
    * restricted by a CASE on the supplier's nation, computed in one pass
    * per order year. Customer-side nation→region restricts to ASIA
    * buyers; part type cuts the fact early. nation broadcasts twice
    * under different aliases (customer's and supplier's arm). */
  private def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val cn = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val sn = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
    tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_type") === "STANDARD").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((r4(sum(when(col("sn_name") === "NATION_2", vol)
          .otherwise(0.0))) / r4(sum(vol))).as("mkt_share"))
  }

  /** TPC-H Q15 shape (top supplier): aggregate view + global-max filter.
    * The per-supplier quarterly revenue aggregates once; the max is a
    * 1-row scalar broadcast back over the view (not an unpartitioned
    * window — at scale the view is |suppliers| rows and the scalar join
    * keeps it fully parallel). Revenue is 4dp-rounded BEFORE max/compare
    * so both engines select the identical winner set. */
  private def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
      .groupBy(col("l_suppkey"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("__max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("__max_rev"))
      .join(broadcast(tbl(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q6 shape (forecast-revenue change): the pure single-scan
    * aggregate — three conjunctive range predicates, no join, one row
    * out. Every predicate pushes to the parquet scan (PushedFilters on
    * l_shipdate / l_discount / l_quantity); the plan is scan → partial
    * agg → 1-row final agg, the cheapest possible query shape and the
    * canonical pushdown check: at 100 TB this reads only the row groups
    * whose min/max stats overlap 1997. */
  private def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(r4(sum(col("l_extendedprice") * col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))

  /** TPC-H Q7 shape (volume shipping between two nations): the
    * bidirectional nation-pair correlation — supplier nation and
    * customer nation must form the pair in EITHER orientation, so the
    * cut is on the resolved (supp_nation, cust_nation) tuple after both
    * dimension arms, not a single-arm pushdown. nation broadcasts twice
    * under different aliases; supplier broadcasts (10k rows/SF by
    * TPC-H contract); orders/customer flow through AQE-planned shuffle
    * joins. Grouped by the pair × ship year. */
  private def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val sn = broadcast(tbl(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val cn = broadcast(tbl(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(sn, col("s_nationkey") === col("sn_key"))
      .join(cn, col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_3" &&
          col("cust_nation") === "NATION_8") ||
        (col("supp_nation") === "NATION_8" &&
          col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
  }

  /** TPC-H Q9 shape (product-type profit): profit needs a cost term from
    * a second dimension's column — p_retailprice is the unit-cost
    * surrogate (the synthetic schema has no partsupp, so supply cost
    * rides the part row at 1% of retail). The Q9 signature is group keys
    * from two DIFFERENT dimension arms: the supplier's nation × the
    * order's year. Part is name-filtered before its join; part and
    * supplier broadcast; the per-row profit expression is identical
    * IEEE both engines (mul/div/sub only — order-stable). */
  private def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val profit = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity") / lit(100.0)
    tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_name").contains("widget"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(tbl(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, dir, "nation")
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(r4(sum(profit)).as("sum_profit"))
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    * — quarter-filtered orders joined to R-flagged lineitems, grouped
    * per customer with the customer detail carried through the aggregate
    * keys (the wide-group-key pattern: keys functionally determined by
    * c_custkey ride the same shuffle for free), top 20 by rounded
    * revenue with a custkey tiebreak. Both filters push to their scans;
    * the top-k is TakeOrderedAndProject, no global sort. */
  private def qTpchQ10(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
            col("o_orderdate") < lit("1997-04-01").cast(TimestampType))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q11 shape (important stock): group-share against a global
    * scalar — per-part inventory value (lineitem value total standing in
    * for ps_supplycost·ps_availqty over the partsupp-less schema) for
    * one REGION's suppliers, kept where the part's value exceeds twice
    * the MEAN per-part share (TPC-H's 0.0001/SF made scale-free: the
    * cut stays meaningful at any part count). The 1-row total+count
    * broadcasts to every task; both aggregates read one shared filtered
    * base, so the fact scans once. */
  private def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val supEur = broadcast(tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select("s_suppkey"))
    val base = tbl(s, dir, "lineitem")
      .join(supEur, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * col("l_quantity")).as("v"))
    // per-part AND grand total from ONE pass: grouping sets ((partkey),
    // ()) — a separate total aggregate would re-run the scan + join
    // (independent aggregate subtrees are not deduplicated by Catalyst)
    val grains = base
      .groupingSets(Seq(Seq(col("l_partkey")), Seq.empty), col("l_partkey"))
      .agg(r4(sum(col("v"))).as("val_r4"))
      // |parts|+1 rows feeding three consumers — snapshot so the base
      // scan+join runs once
      .localCheckpoint()
    val total = grains.filter(col("l_partkey").isNull)
      .select(col("val_r4").as("total_value"))
    val perPart = grains.filter(col("l_partkey").isNotNull)
    val nParts = perPart.agg(count(lit(1)).as("n_parts"))
    perPart
      .crossJoin(broadcast(total)).crossJoin(broadcast(nParts))
      .filter(col("val_r4") > lit(2.0) * col("total_value") / col("n_parts"))
      .select(col("l_partkey"), col("val_r4").as("part_value"))
  }

  /** TPC-H Q12 shape (shipmode priority): conditional priority counts
    * per delivery class. The synthetic schema has no l_shipmode or
    * commit/receipt dates, so the class is banded from the actual
    * order-to-ship delay (FAST ≤ 30 d, SLOW ≤ 90 d, else LATE) — same
    * plan shape: fact-dim equi-join, derived grouping attribute,
    * CASE-split high/low-priority counts in ONE pass over the join. */
  private def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val isHigh = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .select("l_orderkey", "l_shipdate")
      .join(tbl(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(delay <= 30, "FAST").when(delay <= 90, "SLOW")
        .otherwise("LATE").as("ship_class"))
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q16 shape (parts/supplier relationship): DISTINCT-supplier
    * counts per part attribute triple with a NOT-IN exclusion set
    * (suppliers under an acctbal floor standing in for the complaints
    * list) and negated part predicates. The part-supplier bridge is the
    * lineitem fact; countDistinct dedups (partkey, suppkey) inside the
    * aggregate (partial distinct before the exchange), the exclusion is
    * a broadcast anti-join — never a NOT IN driver loop. */
  private def qTpchQ16(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(broadcast(tbl(s, dir, "supplier")
          .filter(col("s_acctbal") < 1000.0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** TPC-H Q2 shape (minimum-cost supplier): the argmin-per-group
    * correlated subquery — for each part, the supplier(s) achieving the
    * region-wide minimum unit price. Decorrelated agg-then-join (same
    * family as Q17): per-(part,supplier) unit-price min over the
    * region's lineitems, a per-part min of those, joined back on
    * EQUALITY of the min value. min() of per-row IEEE divides involves
    * no summation, so the double equality is bit-exact cross-engine.
    * Supplier detail attaches only after the argmin cut. */
  private def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val supEur = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val ps = tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_type") === "STANDARD" && col("p_size") < 25)
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supEur.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val minPer = ps.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    ps.join(minPer, col("l_partkey") === col("m_partkey") &&
        col("unit_cost") === col("min_cost"))
      .join(broadcast(supEur), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey"), col("l_suppkey"), r6(col("unit_cost")).as("unit_cost"))
      .orderBy(col("s_acctbal").desc, col("l_partkey"), col("l_suppkey"))
      .limit(100)
  }

  /** TPC-H Q20 shape (potential part promotion): nested semi-joins with
    * a per-part demand-share threshold — suppliers who shipped more than
    * 1/8 of a name-filtered part's total demand (the partsupp-less
    * availqty surrogate), collapsed to a distinct supplier set, then the
    * supplier detail via semi-join. Quantities are integer-valued
    * doubles, so 8·supp_qty > total_qty compares exactly (no division,
    * no rounding). The part filter broadcasts and cuts the fact before
    * EITHER aggregate; both aggregates share one scan of the cut. */
  private def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_name").startsWith("small")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_suppkey", "l_quantity")
    // per-(part,supplier) AND per-part totals from ONE pass over the cut:
    // grouping sets — two independent aggregates would scan+join twice
    val grains = base
      .groupingSets(
        Seq(Seq(col("l_partkey"), col("l_suppkey")), Seq(col("l_partkey"))),
        col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .localCheckpoint()
    val perPS = grains.filter(col("l_suppkey").isNotNull)
      .select(col("l_partkey"), col("l_suppkey"), col("qty").as("supp_qty"))
    val perP = grains.filter(col("l_suppkey").isNull)
      .select(col("l_partkey").as("t_partkey"), col("qty").as("total_qty"))
    val qualifying = perPS
      .join(perP, col("l_partkey") === col("t_partkey"))
      .filter(lit(8.0) * col("supp_qty") > col("total_qty"))
      .select(col("l_suppkey")).distinct()
    tbl(s, dir, "supplier")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
  }

  /** Lag/lead time-series features per event type + pct change vs lag_1. */
  private def qWindowLagged(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.laggedFeatures(ev(s, dir), "event_type",
        evOrder, "value", Seq(1, 3))
      .select("event_id", "event_type", "lag_1", "lead_1", "lag_3",
        "lead_3", "pct_change")

  /** Cross-sectional rank features per event type over (value desc, id). */
  private def qWindowRanks(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.rankFeatures(ev(s, dir), Seq("event_type"),
        Seq(col("value").desc, col("event_id")))
      .select("event_id", "event_type", "rnk", "dense_rnk", "pct_rank",
        "cume_d")

  // ----------------------------------------------------------------- joins

  private def slidingMetrics(s: SparkSession, dir: String, width: String,
                             slide: String): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = width, slide = Some(slide)))

  /** J1 (faithful): equi-join of the 15m and 1h sliding aggregates on
    * (key, window_start) — matches only where both grids align, exactly as
    * the reference does. */
  private def qJoinInner(s: SparkSession, dir: String): DataFrame = {
    val m15 = slidingMetrics(s, dir, "15 minutes", "5 minutes")
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma_15m"),
        r6(col("volatility")).as("volatility_15m"),
        col("n_events").as("n_15m"))
    val h1 = slidingMetrics(s, dir, "1 hour", "10 minutes")
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma_1h"),
        col("n_events").as("n_1h"))
    Combine.joinOnWindowStart(m15, h1, "event_type")
  }

  /** Multiway star join: lineitem x orders x customer x nation x region ->
    * revenue per nation. nation/region broadcast; AQE handles the rest. */
  private def qJoinMultiway(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))

  private def urgentOrders(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")

  /** Left semi: lineitem rows whose order is urgent. */
  private def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    Joins.semiJoin(tbl(s, dir, "lineitem"), urgentOrders(s, dir),
        "l_orderkey", "o_orderkey")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** Left anti: lineitem rows whose order is NOT urgent. */
  private def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    Joins.antiJoin(tbl(s, dir, "lineitem"), urgentOrders(s, dir),
        "l_orderkey", "o_orderkey")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** Bloom-pruned semi join: result must EQUAL q_join_semi (no false
    * negatives; exact join removes false positives) — the filter only cuts
    * the volume entering the fact-side shuffle. */
  private def qJoinBloom(s: SparkSession, dir: String): DataFrame =
    Joins.bloomSemiJoin(tbl(s, dir, "lineitem"), urgentOrders(s, dir),
        "l_orderkey", "o_orderkey", estItems = 100000L)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** As-of join: each event picks up the metrics of the latest COMPLETED
    * 1-hour window of its key (quote time = window_end). Oracle: DuckDB's
    * native ASOF JOIN — an independent implementation of the semantics. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val quotes = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = "1 hour"))
      .select(col("event_type"), col("window_end").as("quote_ts"),
        exactAvg(col("value_sum"), col("n_events")).as("hour_ma"),
        col("n_events").as("hour_n"))
    AsOfJoin.asOf(
      left = ev(s, dir).select("event_id", "event_type", "ts", "value"),
      right = quotes, key = "event_type", leftTs = "ts",
      rightTs = "quote_ts", payload = Seq("hour_ma", "hour_n"),
      tiebreak = "event_id")
  }

  private def asofQuotes(s: SparkSession, dir: String): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = "1 hour"))
      .select(col("event_type"), col("window_end").as("quote_ts"),
        exactAvg(col("value_sum"), col("n_events")).as("hour_ma"),
        col("n_events").as("hour_n"))

  /** Forward as-of: each event attaches the NEXT hour-boundary quote at
    * or after its timestamp (DuckDB's native ASOF with <= is the
    * independent check). */
  private def qAsofFwd(s: SparkSession, dir: String): DataFrame =
    AsOfJoin.asOfForward(
      left = ev(s, dir).select("event_id", "event_type", "ts", "value"),
      right = asofQuotes(s, dir), key = "event_type", leftTs = "ts",
      rightTs = "quote_ts", payload = Seq("hour_ma", "hour_n"),
      tiebreak = "event_id")

  /** Nearest as-of (sensor alignment): closer of the two directional
    * matches by exact µs distance, ties backward. */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame =
    AsOfJoin.asOfNearest(
      left = ev(s, dir).select("event_id", "event_type", "ts", "value"),
      right = asofQuotes(s, dir), key = "event_type", leftTs = "ts",
      rightTs = "quote_ts", payload = Seq("hour_ma", "hour_n"),
      tiebreak = "event_id")

  /** The same as-of join through the custom physical operator (tier (c):
    * AsOfJoinNode -> AsOfJoinStrategy -> AsOfJoinExec single-pass merge) —
    * oracle-checked against DuckDB's native ASOF JOIN exactly like the
    * compositional q_asof_join, so the three implementations (composition,
    * custom exec, DuckDB) must all agree. */
  private def qAsofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val quotes = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = "1 hour"))
      .select(col("event_type"), col("window_end").as("quote_ts"),
        exactAvg(col("value_sum"), col("n_events")).as("hour_ma"),
        col("n_events").as("hour_n"))
    graft.plans.AsOfJoinNative.asOf(
      left = ev(s, dir).select("event_id", "event_type", "ts", "value"),
      right = quotes, key = "event_type", leftTs = "ts",
      rightTs = "quote_ts", payload = Seq("hour_ma", "hour_n"))
  }

  /** Range join without an equality key: orders against sampled 14-day
    * "audit periods", bucketed composition vs DuckDB's IEJoin oracle. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val periods = orders.filter(col("o_orderkey") % 149 === 0)
      .select(col("o_orderkey").as("period_id"),
        col("o_orderdate").as("period_start"),
        (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("period_end"))
    RangeJoin.pointInInterval(
        orders.select(col("o_orderkey"), col("o_orderdate")),
        "o_orderdate", periods, "period_start", "period_end",
        bucketSeconds = 7L * 24 * 3600)
      .select("o_orderkey", "o_orderdate", "period_id")
  }

  /** J4: MERGE upsert as anti-join + union. Target = daily rollup through
    * Jan 20; updates = recomputed rollup (even user_ids only) from Jan 15 —
    * overlapping (key, date) rows take the update. */
  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val target = daily.filter(col("date") <= lit("2024-01-20").cast(DateType))
    val updates = TimeWindows.dailyOhlcv(
        ev(s, dir).filter(col("user_id") % 2 === 0),
        "event_type", "ts", "value", volume = col("user_id"))
      .filter(col("date") >= lit("2024-01-15").cast(DateType))
    Merge.upsert(target, updates, Seq("event_type", "date"))
      .withColumn("daily_change", r4(col("daily_change")))
  }

  private def rmrf(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Same MERGE through the PARTITION-PRUNED disk path: target written
    * Hive-partitioned by date, updates merged via upsertParquetPruned
    * (only date >= Jan 15 directories read/rewritten), table read back.
    * Oracle = the full-upsert SQL — proves row identity between the
    * pruned rewrite and the logical MERGE. */
  private def qMergeUpsertPruned(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_merge_pruned/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    fixture { // fresh build each rep: the merge mutates the table on disk
      rmrf(s, path)
      daily.filter(col("date") <= lit("2024-01-20").cast(DateType))
        .write.partitionBy("date").parquet(path)
    }
    val updates = TimeWindows.dailyOhlcv(
        ev(s, dir).filter(col("user_id") % 2 === 0),
        "event_type", "ts", "value", volume = col("user_id"))
      .filter(col("date") >= lit("2024-01-15").cast(DateType))
    Merge.upsertParquetPruned(s, path, updates, Seq("event_type", "date"),
      "date")
    s.read.parquet(path).select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** The pruned MERGE over the COMPOSITE two-level layout the reference's
    * (symbol, date) key and a 100 TB (date, source) lake actually use:
    * target Hive-partitioned by (event_type, date), updates merged with
    * partCols = Seq(event_type, date) — only touched LEAF directories are
    * read/rewritten. Same full-upsert oracle: row identity between the
    * nested-pruned rewrite and the logical MERGE (leaf file-identity is
    * asserted in OpsSpec). */
  private def qMergeUpsertPruned2(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_merge_pruned2/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    fixture {
      rmrf(s, path)
      daily.filter(col("date") <= lit("2024-01-20").cast(DateType))
        .write.partitionBy("event_type", "date").parquet(path)
    }
    val updates = TimeWindows.dailyOhlcv(
        ev(s, dir).filter(col("user_id") % 2 === 0),
        "event_type", "ts", "value", volume = col("user_id"))
      .filter(col("date") >= lit("2024-01-15").cast(DateType))
    Merge.upsertParquetPruned(s, path, updates, Seq("event_type", "date"),
      Seq("event_type", "date"))
    s.read.parquet(path).select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** Same MERGE again through the S3A-safe versioned table (rename-free
    * manifest + commit-marker protocol): v0 = target, v1 = pruned upsert,
    * read back at v1. Same full-upsert oracle. */
  private def qMergeVersioned(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_merge_versioned/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture { // v0 target build; the MERGE under test is the v1 upsert
      rmrf(s, root)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
    }
    VersionedTable.upsert(s, root,
      TimeWindows.dailyOhlcv(
          ev(s, dir).filter(col("user_id") % 2 === 0),
          "event_type", "ts", "value", volume = col("user_id"))
        .filter(col("date") >= lit("2024-01-15").cast(DateType)),
      keys, "date")
    VersionedTable.read(s, root).select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** Zero-copy branch + write-audit-publish on the versioned table
    * ([[VersionedTable.createBranch]]/[[VersionedTable.fastForward]]):
    * the daily rollup (dates ≤ Jan 20) commits as main v0; an `audit`
    * branch forks it (metadata-only — no data moves) and stages the
    * late-window even-user rollup (dates ≥ Jan 21) in its own gen
    * namespace; main CONCURRENTLY re-merges the %3-user recompute over
    * dates ≤ Jan 10 (disjoint partitions); fastForward then three-way
    * merges the branch back — branch-changed dirs take the branch's
    * files, main-changed dirs keep main's, anchored on the fork
    * manifest's content tokens. In-query guards pin the version lineage
    * (main 0→1→2, publish references branch gens) and branch isolation
    * (main at v1 has no ≥ Jan 21 rows). Oracle recomputes the merged
    * final state from the raw events in SQL. */
  private def qVersionedBranch(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_branch/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture { // main v0 build; the WAP cycle under test starts at fork
      rmrf(s, root)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
    }
    VersionedTable.createBranch(s, root, "audit")
    VersionedTable.upsert(s, s"$root@audit",
      TimeWindows.dailyOhlcv(
          ev(s, dir).filter(col("user_id") % 2 === 0),
          "event_type", "ts", "value", volume = col("user_id"))
        .filter(col("date") >= lit("2024-01-21").cast(DateType)),
      keys, "date") // audit v1: NEW date partitions only
    VersionedTable.upsert(s, root,
      TimeWindows.dailyOhlcv(
          ev(s, dir).filter(col("user_id") % 3 === 0),
          "event_type", "ts", "value", volume = col("user_id"))
        .filter(col("date") <= lit("2024-01-10").cast(DateType)),
      keys, "date") // main v1, concurrent with the branch, disjoint dirs
    require(VersionedTable.read(s, root).filter(
        col("date") >= lit("2024-01-21").cast(DateType)).isEmpty,
      "branch write leaked into main before publish")
    val v = VersionedTable.fastForward(s, root, "audit")
    require(v == 2, s"fast-forward did not land as main v2: $v")
    VersionedTable.read(s, root).select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** Change data feed v0→v1 of the versioned MERGE fixture: the same two
    * versions as q_merge_versioned, diffed after the fact through the
    * manifest time travel — inserts are the updates' new dates (> Jan 20),
    * updates the overlap dates whose even-user recompute actually changed
    * the row, deletes empty (MERGE never removes). Oracle recomputes both
    * version row sets in SQL and diffs them independently. */
  private def qMergeChangefeed(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_merge_changefeed/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture { // BOTH versions are fixture; the feed diff is the operator
      rmrf(s, root)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
      VersionedTable.upsert(s, root,
        TimeWindows.dailyOhlcv(
            ev(s, dir).filter(col("user_id") % 2 === 0),
            "event_type", "ts", "value", volume = col("user_id"))
          .filter(col("date") >= lit("2024-01-15").cast(DateType)),
        keys, "date")
    }
    VersionedTable.changeFeed(s, root, keys, 0, 1)
      .select(col("op"), col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Cross-table consistent sync ([[MultiSync.syncChangesMulti]]) — the
    * reference's two-warehouse-tables-per-cycle DAG
    * (load_stream_to_snowflake.py loads BOTH aggregates each run) with
    * the crash window CLOSED: one cursor file holds the version VECTOR
    * for customer+nation and advances by one atomic rename only after
    * the consumer applied every table's feed. The fixture advances both
    * sources, then a consumer CRASH between the two table applies is
    * injected — the retry replays the whole cycle from the same bases
    * (in-query guards pin the unchanged cursor and the exact replayed
    * advances), so the destination pair can never represent a mixed
    * snapshot. Output = the synced destinations joined; oracle = the
    * same final state from the raw tables. */
  private def qSnapshotSync(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_snapshot_sync/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (t1, t2) = (s"$base/cust", s"$base/nat")
    val (d1, d2) = (s"$base/dest_cust", s"$base/dest_nat")
    val cursor = s"$base/cursor"
    val cust = tbl(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"),
      floor(col("c_acctbal") * 100).cast("long").as("bal_cents"),
      pmod(col("c_custkey"), lit(8)).cast("int").as("c_part"))
    val nat = tbl(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val ck = Seq("c_custkey", "c_part")
    def applyInto(feeds: Map[String, DataFrame]): Unit = {
      // the consumer's per-cycle load: upsert the post-image rows
      // (fixture has no deletes — the crash-replay semantics under
      // test are the CURSOR's, not the delete path's)
      val f1 = feeds(t1).filter(col("op") =!= "delete")
        .select(col("c_custkey"), col("c_nationkey"),
          col("bal_cents"), col("c_part"))
      if (!f1.isEmpty) VersionedTable.upsert(s, d1, f1, ck, Seq("c_part"))
      val f2 = feeds(t2).filter(col("op") =!= "delete")
        .select(col("n_nationkey"), col("n_name"))
      if (!f2.isEmpty) VersionedTable.upsert(s, d2, f2,
        Seq("n_nationkey"), Seq("n_nationkey"))
    }
    fixture {
      rmrf(s, base)
      VersionedTable.upsert(s, t1,
        cust.filter(col("c_custkey") % 4 =!= 0), ck, Seq("c_part"))
      VersionedTable.upsert(s, t2, nat, Seq("n_nationkey"),
        Seq("n_nationkey"))
      // cycle 1: both initial loads land in the destinations
      MultiSync.syncChangesMulti(s, Seq((t1, ck),
        (t2, Seq("n_nationkey"))), cursor)(applyInto)
      // ONE source advances (the held-out customers); t2 stays synced,
      // so the final cycle must serve it the EMPTY feed — the
      // every-table-always-delivered contract, at 2 fewer fixture
      // commits than advancing both sides (round-11 steady cut)
      VersionedTable.upsert(s, t1,
        cust.filter(col("c_custkey") % 4 === 0), ck, Seq("c_part"))
    }
    // consumer crash BETWEEN the two table applies: t1's feed is
    // consumed, then death before t2's — the vector cursor must not
    // have advanced for either table
    try {
      MultiSync.syncChangesMulti(s, Seq((t1, ck),
          (t2, Seq("n_nationkey"))), cursor) { feeds =>
        feeds(t1).filter(col("op") =!= "delete").count() // t1 consumed
        throw new RuntimeException("crash between the two table syncs")
      }
      require(false, "crash injection did not propagate")
    } catch { case e: RuntimeException
        if e.getMessage.contains("crash between") => () }
    // the retry replays from the same bases — the operator under test;
    // the advances pin that the crashed cycle moved NO cursor (t1
    // replays 0->1) and that the synced t2 is absent from the advance
    // map yet still receives its (empty) feed
    var t2FeedRows = -1L
    val adv = MultiSync.syncChangesMulti(s, Seq((t1, ck),
      (t2, Seq("n_nationkey"))), cursor) { feeds =>
      t2FeedRows = feeds(t2).count()
      applyInto(feeds)
    }
    require(adv == Some(Map(t1 -> ((0, 1)))),
      s"crash-replay advances wrong: $adv — a mixed snapshot window")
    require(t2FeedRows == 0L,
      s"synced table's feed must be delivered and empty: $t2FeedRows")
    VersionedTable.read(s, d1)
      .join(VersionedTable.read(s, d2),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("bal_cents")).as("bal_sum"),
        count(lit(1)).as("n_cust"))
  }

  /** ATOMIC two-table warehouse write ([[MultiSync.upsertAtomic]]) —
    * the reference DAG's two MERGEs per cycle
    * (load_stream_to_snowflake.py:243-323 + load_to_snowflake.py:
    * 212-231) made all-or-nothing: stage both upserts, publish ONE
    * decision marker (the commit point), then both commit markers. A
    * crash is injected between the two publishes — the reference's
    * exact mixed-pair window — and recovery rolls the pair FORWARD;
    * in-query guards pin both tables at the recovered version. Cycle 1
    * loads even-user aggregates, the crashed cycle 2 the full
    * recompute. Output = the two destinations joined on event_type;
    * oracle recomputes both aggregates from events. */
  /** Serializes the two crash-injection queries' use of the
    * process-global [[MultiSync.crashHook]] under Verify/Bench
    * parallelism — one query's `finally` reset must not clobber the
    * other's live injection. */
  private object crashHookLock

  private def qMultiTxn(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_multi_txn/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (tSym, tDay) = (s"$base/sym", s"$base/day")
    val marker = s"$base/txn"
    def writes(events: DataFrame) = Seq(
      MultiSync.TableWrite(tSym,
        events.groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          sum(col("user_id")).as("sum_users")),
        Seq("event_type"), Seq("event_type")),
      MultiSync.TableWrite(tDay,
        events.groupBy(col("event_type"),
            to_date(col("ts")).as("date"))
          .agg(count(lit(1)).as("n_day")),
        Seq("event_type", "date"), Seq("date")))
    fixture {
      rmrf(s, base)
      MultiSync.upsertAtomic(s,
        writes(ev(s, dir).filter(col("user_id") % 2 === 0)), marker)
    }
    // cycle 2 crashes between the two publishes; the decision marker
    // already committed the pair, so recovery completes it.
    // crashHook is a process-global: serialize with the other
    // hook-using query (q_multi_txn_merge) or a concurrent reset
    // clobbers this one's injection mid-flight
    crashHookLock.synchronized {
      MultiSync.crashHook = p =>
        if (p == s"published:$tSym")
          throw new IllegalStateException("q_multi_txn injected crash")
      try {
        MultiSync.upsertAtomic(s, writes(ev(s, dir)), marker)
        require(false, "q_multi_txn: crash injection did not propagate")
      } catch { case e: IllegalStateException
          if e.getMessage.contains("injected crash") => ()
      } finally MultiSync.crashHook = _ => ()
    }
    MultiSync.recoverAtomic(s, marker)
    require(VersionedTable.currentVersion(s, tSym).contains(1) &&
      VersionedTable.currentVersion(s, tDay).contains(1),
      "q_multi_txn: recovery did not land the pair at v1")
    VersionedTable.read(s, tSym)
      .join(VersionedTable.read(s, tDay), "event_type")
      .select(col("event_type"), col("date"), col("n_events"),
        col("sum_users"), col("n_day"))
  }

  /** [[qMultiTxn]]'s SQL twin through DEFERRED CANONICAL MERGEs — the
    * reference DAG's exact statement shape (two MERGEs per cycle,
    * load_stream_to_snowflake.py:281-305 + load_to_snowflake.py:
    * 212-231) inside one `BEGIN / MERGE / MERGE / COMMIT GRAFT
    * TRANSACTION`. Both MERGEs defer (return -1), COMMIT is crashed AT
    * the decision point (commit durable, publishes pending), and the
    * NEXT `BEGIN` completes the pair — the orphan-recovery leg, no
    * same-table-set COMMIT needed. In-query guards pin deferral,
    * non-visibility at the crash, and the recovered version vector.
    * Output and oracle are the full-recompute aggregates, as in
    * q_multi_txn. */
  private def qMultiTxnMerge(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_multi_txn_merge/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (tSym, tDay) = (s"$base/sym", s"$base/day")
    def symAgg(events: DataFrame) = events.groupBy("event_type").agg(
      count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_users"))
    def dayAgg(events: DataFrame) = events.groupBy(col("event_type"),
      to_date(col("ts")).as("date")).agg(count(lit(1)).as("n_day"))
    fixture {
      rmrf(s, base)
      // a crashed PRIOR run's marker group would otherwise surface at
      // this run's BEGIN naming freshly-rmrf'd tables
      val marker = graft.plans.GraftTxn.markerFor(s, Seq(tSym, tDay))
      val fs = VersionedTable.fsFor(s, marker)
      fs.globStatus(new org.apache.hadoop.fs.Path(marker + "*"))
        .foreach(st => fs.delete(st.getPath, false))
      val evens = ev(s, dir).filter(col("user_id") % 2 === 0)
      VersionedTable.upsert(s, tSym, symAgg(evens),
        Seq("event_type"), Seq("event_type"))
      VersionedTable.upsert(s, tDay, dayAgg(evens),
        Seq("event_type", "date"), Seq("date"))
    }
    symAgg(ev(s, dir)).createOrReplaceTempView("mtm_sym_src")
    dayAgg(ev(s, dir)).createOrReplaceTempView("mtm_day_src")
    s.sql("BEGIN GRAFT TRANSACTION")
    require(s.sql(
      s"""MERGE INTO graft.`$tSym` t USING mtm_sym_src s
         |ON t.event_type = s.event_type
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .first.getInt(0) == -1, "q_multi_txn_merge: MERGE must defer")
    require(s.sql(
      s"""MERGE INTO graft.`$tDay` t USING mtm_day_src s
         |ON t.event_type = s.event_type AND t.date = s.date
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .first.getInt(0) == -1, "q_multi_txn_merge: MERGE must defer")
    // crashHook is process-global: the injection is PATH-SCOPED to this
    // query's own transaction marker (markerFor is deterministic over
    // the member roots), so no other query's commits can trip it — the
    // round-11 bench's `p == "decision"` matched EVERY upsertAtomic
    // under PAR=4. The lock still serializes against q_multi_txn so a
    // concurrent `finally` reset cannot clobber a live injection.
    val myMarker = graft.plans.GraftTxn.markerFor(s, Seq(tSym, tDay))
    crashHookLock.synchronized {
      MultiSync.crashHook = p =>
        if (p == s"decision:$myMarker")
          throw new IllegalStateException(
            "q_multi_txn_merge injected crash")
      try {
        s.sql("COMMIT GRAFT TRANSACTION")
        require(false,
          "q_multi_txn_merge: crash injection did not propagate")
      } catch { case e: Throwable =>
        val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
        require(msgs.contains("injected crash"),
          s"q_multi_txn_merge: unexpected COMMIT failure: $e")
      } finally MultiSync.crashHook = _ => ()
    }
    require(VersionedTable.currentVersion(s, tSym).contains(0) &&
      VersionedTable.currentVersion(s, tDay).contains(0),
      "q_multi_txn_merge: the crash must publish nothing")
    // the NEXT BEGIN completes the crashed group (decision rolls
    // forward) — orphan recovery, not a same-table-set COMMIT
    s.sql("BEGIN GRAFT TRANSACTION")
    s.sql("ROLLBACK GRAFT TRANSACTION")
    require(VersionedTable.currentVersion(s, tSym).contains(1) &&
      VersionedTable.currentVersion(s, tDay).contains(1),
      "q_multi_txn_merge: BEGIN recovery did not land the pair at v1")
    VersionedTable.read(s, tSym)
      .join(VersionedTable.read(s, tDay), "event_type")
      .select(col("event_type"), col("date"), col("n_events"),
        col("sum_users"), col("n_day"))
  }

  /** Incrementally-maintained materialized aggregate ([[MatView]]) over
    * the versioned daily rollup — the consumer the change feed exists
    * for: the view (SUM(daily_volume), COUNT(*) per event_type) is
    * full-built at source v0, the source then advances to v1 via the
    * even-user recompute MERGE, and refresh() brings the view current
    * from the CDF feed ALONE (sum/count are subtractable via pre/post
    * images — zero source-table scans on the refresh). In-query guards
    * pin the view's version lineage so a silent full rebuild cannot
    * stay oracle-green. Oracle aggregates the same final state in SQL. */
  private def qMatview(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_matview/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (root, view) = (s"$base/src", s"$base/view")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture { // source v0, view full build, source advance: all setup —
      // the operator under test is the incremental refresh below
      rmrf(s, base)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
      MatView.create(s, view, root, keys, Seq("event_type"),
        sums = Seq(("vol_sum", "daily_volume")), countAlias = Some("n_days"))
      VersionedTable.upsert(s, root,
        TimeWindows.dailyOhlcv(
            ev(s, dir).filter(col("user_id") % 2 === 0),
            "event_type", "ts", "value", volume = col("user_id"))
          .filter(col("date") >= lit("2024-01-15").cast(DateType)),
        keys, "date")
    }
    MatView.refresh(s, view)
    // v0 = full build, v1 = the incremental leg; a third version or a
    // missing cursor would mean the refresh degenerated
    require(VersionedTable.currentVersion(s, view) == Some(1),
      "matview refresh did not produce exactly one incremental version")
    require(VersionedTable.lastTxn(s, view, "matview:" + root) == Some(1L),
      "matview sync cursor is not at source v1")
    MatView.read(s, view)
  }

  /** [[qMatview]]'s extrema flavor: MIN(daily_low) / MAX(daily_high)
    * per event_type force the recompute strategy (deletes/updates make
    * extrema non-subtractable), which re-aggregates ONLY the groups the
    * feed names — pruned through the source's index probes. Same
    * versioned lineage guards; oracle takes min/max over the same
    * final state. */
  private def qMatviewMinmax(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_matview_mm/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (root, view) = (s"$base/src", s"$base/view")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture {
      rmrf(s, base)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
      MatView.create(s, view, root, keys, Seq("event_type"),
        mins = Seq(("low_min", "daily_low")),
        maxs = Seq(("high_max", "daily_high")),
        countAlias = Some("n_days"))
      VersionedTable.upsert(s, root,
        TimeWindows.dailyOhlcv(
            ev(s, dir).filter(col("user_id") % 2 === 0),
            "event_type", "ts", "value", volume = col("user_id"))
          .filter(col("date") >= lit("2024-01-15").cast(DateType)),
        keys, "date")
    }
    MatView.refresh(s, view)
    require(VersionedTable.currentVersion(s, view) == Some(1),
      "matview refresh did not produce exactly one incremental version")
    MatView.read(s, view)
  }

  /** [[qMatview]]'s AVG + approx-DISTINCT flavor: AVG rides the
    * subtractable-sum machinery (stored internal sum + non-null count,
    * divided at read) so its refresh leg stays feed-only, while
    * approx_count_distinct is a mergeable HLL sketch column — inserts
    * union into the stored sketch, removals force exactly the affected
    * groups through the pruned recompute (a sketch cannot subtract; the
    * in-query guard pins that the update feed really exercised it). The
    * exact surface (avg, count) is oracled; the sketch estimate is
    * health-checked against the exact distinct count in-query, the
    * [[qHllIncremental]] invariant pattern. */
  private def qMatviewAvgDistinct(s: SparkSession, dir: String)
      : DataFrame = {
    val base = "/tmp/graft_matview_ad/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (root, view) = (s"$base/src", s"$base/view")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture {
      rmrf(s, base)
      VersionedTable.upsert(s, root,
        daily.filter(col("date") <= lit("2024-01-20").cast(DateType)),
        keys, "date")
      MatView.create(s, view, root, keys, Seq("event_type"),
        countAlias = Some("n_days"),
        avgs = Seq(("vol_avg", "daily_volume")),
        distincts = Seq(("vol_dct", "daily_volume")))
      VersionedTable.upsert(s, root,
        TimeWindows.dailyOhlcv(
            ev(s, dir).filter(col("user_id") % 2 === 0),
            "event_type", "ts", "value", volume = col("user_id"))
          .filter(col("date") >= lit("2024-01-15").cast(DateType)),
        keys, "date")
    }
    MatView.refresh(s, view)
    require(VersionedTable.currentVersion(s, view) == Some(1),
      "matview refresh did not produce exactly one incremental version")
    require(MatView.lastRescanGroups > 0,
      "the update feed removed daily_volume values, so the sketch " +
        "measure must have routed groups through the recompute path")
    val exact = VersionedTable.read(s, root)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("daily_volume")).as("__ex"))
    MatView.read(s, view).join(exact, Seq("event_type"))
      .select(col("event_type"), r6(col("vol_avg")).as("vol_avg"),
        col("n_days"),
        (abs(col("vol_dct") - col("__ex")) <=
          lit(1.0) + lit(0.08) * col("__ex")).as("dct_ok"))
  }

  /** Incrementally-maintained aggregate-over-JOIN view ([[JoinMatView]])
    * — the reference's core serving shape (an aggregate join re-MERGEd
    * every cycle, spark_stream_processor.py:216-234 →
    * load_stream_to_snowflake.py:243-323) made change-volume-priced:
    * customer (fact, int64 cents measure) joins nation (dim) and
    * aggregates per nation name. After the initial build, BOTH sources
    * take surgical updates — balances shift, some customers move
    * nations, one nation is RENAMED (its whole group relabels) — and
    * one refresh() brings the view current from the two change feeds
    * alone: ΔF ⋈ D_new for the fact leg, F_old ⋈ ΔD (fact re-read
    * pruned to the one changed dim key) for the dim leg, both source
    * watermarks committed atomically in one manifest. In-query guards
    * pin the delta path (no full recompute, exactly one incremental
    * version, dim leg saw exactly 1 changed key). Oracle reconstructs
    * the same final join-aggregate in SQL. */
  private def qMatviewJoin(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_matview_j/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (fact, dim, view) = (s"$base/fact", s"$base/dim", s"$base/view")
    fixture {
      rmrf(s, base)
      // fact v0: customers with an exact int64 cents balance (per-row
      // cast is bit-identical cross-engine; sums stay order-exact)
      val c0 = tbl(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        // floor, not cast: CAST(double AS BIGINT) truncates in Spark
        // but rounds in DuckDB — floor is bit-identical in both
        floor(col("c_acctbal") * 100).cast("long").as("bal_cents"),
        pmod(col("c_custkey"), lit(8)).cast("int").as("c_part"))
      VersionedTable.upsert(s, fact, c0, Seq("c_custkey", "c_part"),
        Seq("c_part"), statsCols = Seq("c_custkey"),
        bloomCols = Seq("c_nationkey"))
      val n0 = tbl(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      VersionedTable.upsert(s, dim, n0, Seq("n_nationkey"),
        Seq("n_nationkey"))
      JoinMatView.create(s, view, fact, dim, fkCols = Seq("c_nationkey"),
        groupCols = Seq("n_name"),
        sums = Seq(("bal_sum", "bal_cents")),
        avgs = Seq(("bal_avg", "bal_cents")),
        countAlias = Some("n_cust"))
      // fact v1 (surgical): every 10th customer's balance shifts, every
      // 50th moves nation — updates that MOVE rows between groups
      VersionedTable.upsert(s, fact,
        c0.filter(col("c_custkey") % 10 === 0).select(
          col("c_custkey"),
          when(col("c_custkey") % 50 === 0,
            pmod(col("c_nationkey") + 7, lit(25)))
            .otherwise(col("c_nationkey"))
            .cast(c0.schema("c_nationkey").dataType).as("c_nationkey"),
          (col("bal_cents") + 100000L).as("bal_cents"), col("c_part")),
        Seq("c_custkey", "c_part"), Seq("c_part"),
        statsCols = Seq("c_custkey"), bloomCols = Seq("c_nationkey"))
      // dim v1 (surgical): ONE nation renamed — its group relabels
      VersionedTable.upsert(s, dim,
        n0.filter(col("n_nationkey") === 3)
          .select(col("n_nationkey"), lit("RENAMED").as("n_name")),
        Seq("n_nationkey"), Seq("n_nationkey"))
    }
    MatView.refresh(s, view)
    require(!MatView.lastFullRecompute,
      "surgical two-source updates must refresh via the delta path")
    require(JoinMatView.lastDimChangedKeys == 1L,
      s"dim leg saw ${JoinMatView.lastDimChangedKeys} changed keys, " +
        "expected exactly the renamed nation")
    require(VersionedTable.currentVersion(s, view) == Some(1),
      "join matview refresh did not produce exactly one incremental " +
        "version")
    MatView.read(s, view).select(col("n_name"), col("bal_sum"),
      r6(col("bal_avg")).as("bal_avg"), col("n_cust"))
  }

  /** Manifest file skipping on the versioned table: the daily rollup is
    * written partitioned by event_type, CLUSTERED on date (statsCols)
    * with small files, and a needle date-range read goes through
    * [[VersionedTable.readWhere]] — only files whose recorded min/max
    * date range overlaps the predicate are scanned (the sub-partition
    * half of scan pruning; a guard asserts skipping actually bit so the
    * oracle-green row can't silently degrade to a full scan). Oracle =
    * the rollup filtered to the same range. */
  private def qVersionedSkip(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_skip/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val lo = java.sql.Date.valueOf("2024-01-08")
    val hi = java.sql.Date.valueOf("2024-01-14")
    val (kept, total) = VersionedTable.skipStats(s, root, "date", lo, hi)
    require(kept < total,
      s"file skipping did not engage: $kept of $total files kept")
    VersionedTable.readWhere(s, root, "date", lo, hi)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Index-targeted DELETE on the versioned table: same fixture as
    * q_versioned_skip (partitioned by event_type, clustered + stats on
    * date), then deleteWhere removes a mid-January window — the file
    * stats prove which dirs can hold matches, so only those rewrite.
    * Result = the table AFTER the delete; oracle = the rollup minus the
    * window. Guard: the delete must commit a new version (it actually
    * found candidates) and time travel must still see the full v0. */
  private def qVersionedDelete(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_delete/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val v1 = VersionedTable.deleteWhere(s, root, "date",
      java.sql.Date.valueOf("2024-01-08"), java.sql.Date.valueOf("2024-01-14"))
    require(v1 == 1, s"delete did not commit a new version: $v1")
    require(VersionedTable.read(s, root, Some(0)).count() >
      VersionedTable.read(s, root).count(), "time travel lost the pre-delete rows")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Merge-on-read DELETE (deletion vectors) under oracle check: the
    * q_versioned_delete fixture, but the mid-January window is removed
    * via [[VersionedTable.deleteWhereDV]] — deleted positions land in a
    * `_dvx` sidecar and the read anti-joins them away, with the data
    * files PROVABLY untouched (guard compares the exhaustive
    * (path, mtime, length) set before/after: byte-identity, the
    * merge-on-read contract). Oracle = identical to q_versioned_delete:
    * the two delete strategies must be indistinguishable to a reader. */
  private def qVersionedDv(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_dv/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), s.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      b.result()
    }
    val before = dataFiles()
    val v1 = VersionedTable.deleteWhereDV(s, root, "date",
      java.sql.Date.valueOf("2024-01-08"), java.sql.Date.valueOf("2024-01-14"))
    require(v1 == 1, s"DV delete did not commit a new version: $v1")
    require(dataFiles() == before,
      "merge-on-read violated: a data file was written or replaced")
    require(VersionedTable.read(s, root, Some(0)).count() >
      VersionedTable.read(s, root).count(),
      "time travel lost the pre-delete rows")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Index-targeted UPDATE under oracle check — the DML triangle's third
    * leg: the q_versioned_delete fixture, then
    * [[VersionedTable.updateWhere]] doubles daily_close inside the
    * mid-January window (SET evaluates against the OLD row; the file
    * stats choose which dirs rewrite). Result = the table AFTER the
    * update; oracle = CASE WHEN over the plain rollup. Guards: a new
    * version committed, and time travel still reads the pre-update
    * values. */
  private def qVersionedUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_update/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val v1 = VersionedTable.updateWhere(s, root, "date",
      java.sql.Date.valueOf("2024-01-08"), java.sql.Date.valueOf("2024-01-14"),
      Map("daily_close" -> (col("daily_close") * lit(2.0d))),
      fileRows = Some(8))
    require(v1 == 1, s"update did not commit a new version: $v1")
    require(VersionedTable.read(s, root, Some(0))
      .agg(org.apache.spark.sql.functions.sum("daily_close")).head.getDouble(0) !=
      VersionedTable.read(s, root)
        .agg(org.apache.spark.sql.functions.sum("daily_close")).head.getDouble(0),
      "time travel lost the pre-update values")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Partition-filtered COUNT fold under oracle check: the rollup table
    * partitioned by event_type, then `SELECT event_type, count(*) ...
    * WHERE event_type <> <min type> GROUP BY event_type` entirely
    * through SQL over graft_table — the fold evaluates the predicate
    * against each dir's parsed partition value and sums manifest row
    * counts: ZERO files listed (guard: the optimized plan is a
    * LocalRelation, nothing else). Oracle recomputes from events. */
  private def qVersionedCountPart(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_count_part/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    graft.GraftExtensions.register(s)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val skip = daily.select(org.apache.spark.sql.functions
      .min(col("event_type"))).head.getString(0)
    val q = s.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |FROM graft_table('$root')
         |WHERE event_type <> '$skip'
         |GROUP BY event_type""".stripMargin)
    require(q.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "partition-filtered COUNT did not fold to manifest metadata:\n" +
        q.queryExecution.optimizedPlan)
    q
  }

  /** Predicate-expression DELETE under oracle check: the rollup fixture,
    * then [[VersionedTable.deleteMatching]] with a COMPOUND predicate —
    * a date window AND a partition-column exclusion — runs through the
    * optimizer rule's constraint extraction: the date range prunes files
    * by stats, the event_type fact prunes whole dirs (guard: the
    * excluded type's partition keeps byte-identity), and the full
    * predicate decides rows. Oracle = the rollup minus the matching
    * rows. */
  private def qVersionedDeleteExpr(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_delete_expr/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val keepType = daily.agg(org.apache.spark.sql.functions
      .min(col("event_type"))).head.getString(0)
    val v1 = VersionedTable.deleteMatching(s, root,
      col("date").between(
        org.apache.spark.sql.functions.lit("2024-01-08").cast(DateType),
        org.apache.spark.sql.functions.lit("2024-01-14").cast(DateType)) &&
        col("event_type") =!= keepType,
      fileRows = Some(8))
    require(v1 == 1, s"expression delete did not commit: $v1")
    // the partition fact (event_type =!= keepType) must prune that dir
    // OUT of the rewrite: its mapping entry still points at the ORIGINAL
    // generation (gen dirs are immutable, so listing files under gen0
    // would prove nothing — the mapping is what a rewrite moves)
    val keptGen = VersionedTable.resolveManifest(s, root, None)
      .mapping(s"event_type=$keepType")
    require(keptGen == "gen0",
      s"partition fact failed to prune: event_type=$keepType was " +
        s"rewritten into $keptGen")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** The PURE-SQL DML surface under oracle check: the rollup fixture
    * driven entirely through `spark.sql` — a compound-predicate DELETE
    * (date window AND partition-type exclusion), then an UPDATE doubling
    * daily_close in an earlier window, both through GraftSqlParser's
    * rewrite of Spark's OWN DML grammar onto the versioned engine calls
    * (plans/GraftSql.scala). Guards: each statement commits a version,
    * and the DELETE's partition fact keeps the excluded type mapped to
    * its original generation — index pruning engages through SQL exactly
    * as through the Scala API. Oracle = rollup minus the deleted window
    * with the update's CASE applied. */
  private def qVersionedSqlDml(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_sql_dml/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val keepType = daily.agg(org.apache.spark.sql.functions
      .min(col("event_type"))).head.getString(0)
    val v1 = s.sql(
      s"""DELETE FROM graft.`$root`
         |WHERE date BETWEEN DATE'2024-01-08' AND DATE'2024-01-14'
         |  AND event_type != '$keepType'""".stripMargin).head.getInt(0)
    require(v1 == 1, s"SQL DELETE did not commit: $v1")
    require(VersionedTable.resolveManifest(s, root, None)
      .mapping(s"event_type=$keepType") == "gen0",
      "SQL DELETE's partition fact failed to prune the excluded type")
    val v2 = s.sql(
      s"""UPDATE graft.`$root` SET daily_close = daily_close * 2
         |WHERE date < DATE'2024-01-05'""".stripMargin).head.getInt(0)
    require(v2 == 2, s"SQL UPDATE did not commit: $v2")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** SQL MERGE under oracle check, both legs: the source carries the
    * mid-January window with daily_volume bumped (matched → UPDATE SET *)
    * plus the same rows re-keyed to `<type>_x` (not matched → INSERT *);
    * one `MERGE INTO graft.`root` ... ON two-column key` statement
    * applies both. Partitioning and index coverage come from the
    * manifest, not the statement (guard: stats still prune afterwards).
    * Oracle = CASE-bumped rollup UNION ALL the re-keyed window. */
  private def qVersionedSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_sql_merge/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    fixture {
      rmrf(s, root)
      VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
        Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    }
    val win = daily.filter(col("date").between(
      org.apache.spark.sql.functions.lit("2024-01-08").cast(DateType),
      org.apache.spark.sql.functions.lit("2024-01-14").cast(DateType)))
      .withColumn("daily_volume", col("daily_volume") + lit(1000000L))
    val view = "graft_sql_merge_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    win.union(win.withColumn("event_type",
        org.apache.spark.sql.functions.concat(col("event_type"), lit("_x"))))
      .createOrReplaceTempView(view)
    val before = VersionedTable.read(s, root).count()
    val winN = win.count()
    val v1 = s.sql(
      s"""MERGE INTO graft.`$root` t USING $view s
         |ON t.event_type = s.event_type AND t.date = s.date
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head.getInt(0)
    require(v1 == 1, s"SQL MERGE did not commit: $v1")
    require(VersionedTable.read(s, root).count() == before + winN,
      "SQL MERGE insert leg lost rows")
    val (kept, total) = VersionedTable.skipStats(s, root, "date",
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-02"))
    require(kept < total,
      s"index coverage lost through SQL MERGE: $kept/$total")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** The general SQL MERGE clause matrix under oracle check: matched
    * DELETE with a source-referencing condition, a conditional matched
    * UPDATE (t+s arithmetic), and a NOT MATCHED BY SOURCE DELETE — one
    * staged commit (guard: exactly one version advance), applied to the
    * daily rollup with the mid-January window as the source. No INSERT
    * clause on purpose: the matrix path, unlike the canonical upsert,
    * must work insert-less. Oracle = the rollup with even-volume window
    * rows deleted, odd-volume window rows bumped, and pre-2024-01-03
    * non-window rows deleted. */
  private def qVersionedSqlMerge2(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_sql_merge2/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    fixture {
      rmrf(s, root)
      VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
        Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    }
    val win = daily.filter(col("date").between(
      org.apache.spark.sql.functions.lit("2024-01-08").cast(DateType),
      org.apache.spark.sql.functions.lit("2024-01-14").cast(DateType)))
    val view = "graft_sql_merge2_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    win.createOrReplaceTempView(view)
    val before = VersionedTable.currentVersion(s, root).get
    val v1 = s.sql(
      s"""MERGE INTO graft.`$root` t USING $view s
         |ON t.event_type = s.event_type AND t.date = s.date
         |WHEN MATCHED AND s.daily_volume % 2 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET
         |  daily_volume = t.daily_volume + 1000000
         |WHEN NOT MATCHED BY SOURCE AND date < DATE'2024-01-03'
         |  THEN DELETE""".stripMargin).head.getInt(0)
    require(v1 == before + 1,
      s"clause-matrix MERGE must be ONE commit: $before -> $v1")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Named-table catalog lifecycle under oracle check: `CREATE TABLE
    * <name> USING graft` (declared schema, partitioning, merge keys and
    * stats index via TBLPROPERTIES), then INSERT / MERGE / DELETE /
    * UPDATE / OPTIMIZE / DESCRIBE HISTORY / SELECT all address the
    * table by NAME — zero path literals after CREATE. This is the
    * reference's actual warehouse UX (load_to_snowflake.py:70-84
    * CREATE TABLE IF NOT EXISTS + named MERGE; README.md:614-637 named
    * queries). In-query guards: SHOW GRAFT TABLES lists the name, the
    * DECLARED stats index prunes files (SQL-only users get file
    * skipping), and history records the whole lifecycle. */
  private def qCatalogLifecycle(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val name = "cat_life_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = "/tmp/graft_catalog_life/" + slug
    rmrf(s, root)
    graft.plans.GraftCatalog.drop(s, name)
    s.sql(
      s"""CREATE TABLE $name (
         |  event_type STRING, date DATE, daily_open DOUBLE,
         |  daily_high DOUBLE, daily_low DOUBLE, daily_close DOUBLE,
         |  daily_volume BIGINT, daily_change DOUBLE)
         |USING graft LOCATION '$root' PARTITIONED BY (event_type)
         |TBLPROPERTIES('graft.keys'='event_type,date',
         |  'graft.stats'='date')""".stripMargin)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val srcView = "cat_life_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    daily.createOrReplaceTempView(srcView)
    s.sql(s"INSERT INTO $name SELECT * FROM $srcView")
    val win = daily.filter(col("date").between(
      org.apache.spark.sql.functions.lit("2024-01-08").cast(DateType),
      org.apache.spark.sql.functions.lit("2024-01-14").cast(DateType)))
      .withColumn("daily_volume", col("daily_volume") + lit(1000000L))
    val mView = "cat_life_merge_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    win.union(win.withColumn("event_type",
        org.apache.spark.sql.functions.concat(col("event_type"), lit("_x"))))
      .createOrReplaceTempView(mView)
    s.sql(
      s"""MERGE INTO $name t USING $mView s
         |ON t.event_type = s.event_type AND t.date = s.date
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"DELETE FROM $name WHERE date < DATE'2024-01-03'")
    s.sql(s"UPDATE $name SET daily_volume = daily_volume + 7 " +
      "WHERE date = DATE'2024-01-05'")
    require(s.sql("SHOW GRAFT TABLES").collect()
      .exists(_.getString(0) == name), "catalog does not list the table")
    val (kept, total) = VersionedTable.skipStats(s, root, "date",
      java.sql.Date.valueOf("2024-01-05"), java.sql.Date.valueOf("2024-01-06"))
    require(kept < total,
      s"declared stats index ('graft.stats') not engaged: $kept/$total")
    require(s.sql(s"DESCRIBE HISTORY $name").count() >= 4,
      "history lost lifecycle commits") // INSERT/MERGE/DELETE/UPDATE
    require(s.sql(s"OPTIMIZE $name").head.getInt(0) > 0,
      "OPTIMIZE by name did not commit")
    s.sql(s"""SELECT event_type, date, daily_open, daily_high, daily_low,
      daily_close, daily_volume, round(daily_change, 4) AS daily_change
      FROM $name""")
  }

  /** INSERT OVERWRITE + TRUNCATE under oracle check: the daily rollup
    * commits as v0 (fixture), SQL `INSERT OVERWRITE` replaces the WHOLE
    * table with the mid-January window in ONE commit (v1), SQL
    * `TRUNCATE TABLE` commits a zero-row metadata version (v2, zero
    * data I/O), and the oracled output is v1 read through time travel —
    * pre-overwrite v0 stays readable too (guards pin the version
    * lineage, v0's full count, and v2's emptiness). Oracle = the plain
    * window subset of the rollup. */
  private def qVersionedOverwrite(s: SparkSession, dir: String)
      : DataFrame = {
    val root = "/tmp/graft_versioned_overwrite/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val keys = Seq("event_type", "date")
    fixture {
      rmrf(s, root)
      VersionedTable.upsert(s, root, daily, keys, "date")
    }
    val srcView = "ovw_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    daily.filter(col("date").between(
        lit("2024-01-08").cast(DateType), lit("2024-01-14").cast(DateType)))
      .createOrReplaceTempView(srcView)
    val n0 = VersionedTable.read(s, root).count()
    val v1 = s.sql(
      s"INSERT OVERWRITE graft.`$root` SELECT * FROM $srcView")
      .head.getInt(0)
    require(v1 == 1, s"OVERWRITE must be ONE commit: v$v1")
    require(VersionedTable.read(s, root, Some(0)).count() == n0,
      "pre-overwrite version no longer time travels")
    val v2 = s.sql(s"TRUNCATE TABLE graft.`$root`").head.getInt(0)
    require(v2 == 2 && VersionedTable.read(s, root).isEmpty,
      "TRUNCATE must commit one empty version")
    VersionedTable.read(s, root, Some(1))
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** SQL CHECK constraints under oracle check: the daily rollup lands
    * as a named table, `ALTER TABLE ... ADD CONSTRAINT` registers a
    * volume floor through Spark's own constraint grammar (a constraint
    * the BACKLOG violates refuses first — guard), a violating UPDATE
    * refuses with NOTHING committed (guard pins the version), a passing
    * UPDATE commits, and DROP CONSTRAINT releases the gate for a final
    * write. Oracle = the rollup with both surviving mutations applied —
    * the blocked one must be invisible. */
  /** Data-quality expectations with quarantine routing: half the
    * lineitem seeds a versioned table, a `l_quantity < 30` QUARANTINE
    * expectation is registered, the other half ingests — violating rows
    * route to the quarantine table (keyed by merge keys + expectation
    * name) and the write keeps the rest. In-query guards: violations
    * were actually gated, and a full REPLAY of the same batch leaves the
    * quarantine unchanged (keyed idempotency). Output = per-group kept
    * aggregate UNION the quarantine aggregate; the oracle replays the
    * split + ANSI violation predicate in SQL. */
  private def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations
    val root = "/tmp/graft_expectations/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val qroot = root + "_quarantine"
    val keys = Seq("l_returnflag", "l_orderkey", "l_linenumber")
    // a 1/8 slice keeps the violation mix (hundreds of rows at sf0.001)
    // without pricing three half-table ingests into the bench
    def li = tbl(s, dir, "lineitem")
      .filter(col("l_orderkey") % 32 < 4)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_quantity"))
    val second = li.filter(col("l_orderkey") % 32 >= 2)
    fixture {
      rmrf(s, root); rmrf(s, qroot)
      VersionedTable.upsert(s, root, li.filter(col("l_orderkey") % 32 < 2),
        keys, Seq("l_returnflag"))
      Expectations.add(s, root, "qty_cap", "l_quantity < 30",
        Expectations.QuarantineRows, Some(qroot))
    }
    VersionedTable.upsert(s, root, second, keys, Seq("l_returnflag"))
    val gated = Expectations.lastGateCounts.getOrElse("qty_cap", 0L)
    require(gated > 0, "expectation gated nothing — fixture broken")
    // crash-retry replay (one partition's slice — enough to prove the
    // keyed quarantine upsert re-delivers without growing)
    VersionedTable.upsert(s, root,
      second.filter(col("l_returnflag") === "N"), keys,
      Seq("l_returnflag"))
    val qCount = VersionedTable.read(s, qroot).count()
    require(qCount == gated,
      s"replay changed the quarantine: $qCount != $gated")
    val kept = VersionedTable.read(s, root)
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty"))
      .withColumn("bucket", lit("kept"))
    val quar = VersionedTable.read(s, qroot)
      .groupBy(col("__expectation").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty"))
      .withColumn("bucket", lit("quarantined"))
    kept.unionByName(quar).select("bucket", "grp", "n", "qty")
  }

  private def qCatalogConstraint(s: SparkSession, dir: String)
      : DataFrame = {
    val name = "cat_ck_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = "/tmp/graft_catalog_ck/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val srcView = "cat_ck_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts", "value",
      volume = col("user_id")).createOrReplaceTempView(srcView)
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$root'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $srcView""".stripMargin)
    }
    // backlog validation: volumes include small values, so a high floor
    // refuses at registration
    require(scala.util.Try(s.sql(s"ALTER TABLE $name ADD CONSTRAINT " +
      "vol_huge CHECK (daily_volume > 1000000)")).isFailure,
      "backlog-violating constraint was accepted")
    s.sql(s"ALTER TABLE $name ADD CONSTRAINT vol_pos " +
      "CHECK (daily_volume >= 0)")
    val vBefore = VersionedTable.currentVersion(s, root).get
    // gated: this UPDATE would drive volumes negative — refused, and
    // NOTHING commits
    require(scala.util.Try(s.sql(s"UPDATE $name SET daily_volume = " +
      "daily_volume - 1000000000")).isFailure,
      "constraint did not gate the violating UPDATE")
    require(VersionedTable.currentVersion(s, root).get == vBefore,
      "violating UPDATE committed a version")
    s.sql(s"UPDATE $name SET daily_volume = daily_volume + 1000000 " +
      "WHERE date >= DATE'2024-01-15'")
    s.sql(s"ALTER TABLE $name DROP CONSTRAINT vol_pos")
    s.sql(s"UPDATE $name SET daily_volume = daily_volume - 2000000 " +
      "WHERE date < DATE'2024-01-03'") // negative now allowed
    s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4)
         |    AS daily_change
         |FROM $name""".stripMargin)
  }

  /** Named logical views under oracle check: CREATE VIEW over a named
    * graft table (the daily rollup), a second view COMPOSING the first
    * (view-over-view), and LATE BINDING — after the views exist, an
    * INSERT lands the tail of the rollup and the oracled output reads
    * ONLY through the outer view name, so both views must serve the
    * post-insert contents without redefinition. Oracle = the same
    * two-level aggregate recomputed from the raw events. */
  private def qCatalogView(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "cat_vq_t_" + slug
    val (v1, v2) = ("cat_vq_v1_" + slug, "cat_vq_v2_" + slug)
    val root = "/tmp/graft_catalog_view/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val srcView = "cat_vq_src_" + slug
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      daily.filter(col("date") < lit("2024-01-20").cast(DateType))
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$root'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $srcView""".stripMargin)
    }
    s.sql(s"CREATE OR REPLACE VIEW $v1 AS SELECT event_type, date, " +
      s"daily_close, daily_volume FROM $name")
    s.sql(
      s"""CREATE OR REPLACE VIEW $v2 AS
         |SELECT event_type, count(*) AS n_days,
         |  CAST(sum(daily_volume) AS BIGINT) AS vol,
         |  round(sum(daily_close), 4) AS close_sum
         |FROM $v1 WHERE date >= DATE'2024-01-03'
         |GROUP BY event_type""".stripMargin)
    require(s.sql("SHOW GRAFT VIEWS").collect()
      .map(_.getString(0)).toSet.intersect(Set(v1, v2)).size == 2,
      "views not listed")
    // LATE binding: the tail lands AFTER both views exist — they must
    // serve it (a frozen snapshot would under-count n_days)
    val tailView = "cat_vq_tail_" + slug
    daily.filter(col("date") >= lit("2024-01-20").cast(DateType))
      .createOrReplaceTempView(tailView)
    s.sql(s"INSERT INTO $name SELECT * FROM $tailView")
    val expectDays = daily
      .filter(col("date") >= lit("2024-01-03").cast(DateType)).count()
    require(s.sql(s"SELECT CAST(sum(n_days) AS BIGINT) AS n FROM $v2")
      .first.getLong(0) == expectDays,
      "view did not late-bind the post-create INSERT")
    s.sql(s"SELECT event_type, n_days, vol, close_sum FROM $v2")
  }

  /** INSERT-time schema evolution under oracle check: the early window
    * of the daily rollup lands via CTAS (generation 0), the
    * `graft.schema.evolution` property opts the table in, and a BY NAME
    * INSERT of the tail WIDENED with a lineage column commits — the
    * oracled output reads both generations, with the pre-evolution rows
    * surfacing NULL for the new column (no rewrite — the evolution read
    * path). A guard pins that the refusal fires without the property. */
  private def qInsertEvolution(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "cat_ie_t_" + slug
    val root = "/tmp/graft_insert_evolution/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val headView = "cat_ie_head_" + slug
    val tailView = "cat_ie_tail_" + slug
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      daily.filter(col("date") < lit("2024-01-15").cast(DateType))
        .createOrReplaceTempView(headView)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$root'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $headView""".stripMargin)
    }
    daily.filter(col("date") >= lit("2024-01-15").cast(DateType))
      .withColumn("src", lit("late"))
      .createOrReplaceTempView(tailView)
    // without the property the widened INSERT refuses (guard) ...
    require(scala.util.Try(s.sql(
      s"INSERT INTO $name BY NAME SELECT * FROM $tailView")).isFailure,
      "widened INSERT committed without the evolution property")
    s.sql(s"ALTER TABLE $name SET TBLPROPERTIES" +
      "('graft.schema.evolution'='true')")
    s.sql(s"INSERT INTO $name BY NAME SELECT * FROM $tailView")
    s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4)
         |    AS daily_change, src
         |FROM $name""".stripMargin)
  }

  /** The reference's whole Lambda architecture by NAME, oracled
    * end-to-end (README.md:85; the speed path's named-warehouse MERGE,
    * load_stream_to_snowflake.py:90-107): events stage as a tick CSV
    * raw zone → Structured Streaming windowed metrics →
    * [[graft.streaming.StreamPipeline.startNamedInsert]] lands each
    * micro-batch in a CREATE-TABLE-registered NAME (exactly-once txn
    * tags, layout from the declaration) → a NAMED materialized view
    * aggregates the stream-fed table → the oracled output SELECTs from
    * the view name. Zero path literals after the CREATEs. A second
    * drain of one far-future flush row advances the watermark so every
    * real window emits deterministically; the flush row itself never
    * emits (its own window never closes). */
  private def qCatalogStream(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "strm_q_t_" + slug
    val mv = "strm_q_mv_" + slug
    val stage = "/tmp/graft_catalog_stream/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val raw = stage + "/raw"
    val ckpt = stage + "/ckpt"
    def tickCsv(df: DataFrame): DataFrame = df.select(
      col("event_type").as("symbol"),
      col("value").cast("string").as("price"),
      lit("0.0").as("change"),
      lit(null).cast("string").as("change_percent"),
      col("user_id").cast("string").as("volume"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .as("timestamp"))
    val ss = graft.streaming.StreamPipeline.scopedSession(s, 8)
    def drain(): Unit = {
      val metrics = graft.streaming.StreamPipeline.windowedMetrics(
        graft.ops.Clean.castTicks(
          // ONE drain, one file per micro-batch: batch 1 is the
          // chronological data file (no intra-batch watermark drops),
          // batch 2 the later-written flush file, whose advanced
          // watermark finalizes every data window — the same flush
          // semantics the round-10 two-drain shape had, minus a whole
          // stream startup (~3-4 s of the steady)
          ss.readStream.schema(Schemas.tickRaw)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1").csv(raw)),
        width = "5 minutes", slide = "5 minutes")
        .withColumn("day", to_date(col("window_start")))
      val q = graft.streaming.StreamPipeline.startNamedInsert(metrics,
        name, ckpt, streamId = "q-catalog-stream")
      // a silent timeout would hand the matview build PARTIAL data (a
      // nondeterministic oracle mismatch) while the stream races the
      // next rep's cleanup of its own dirs — fail loudly instead
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          "q_catalog_stream drain exceeded 120s — partial data refused")
      }
    }
    fixture {
      rmrf(s, stage)
      graft.plans.GraftCatalog.drop(s, name)
      graft.plans.GraftCatalog.drop(s, mv)
      rmrf(s, graft.plans.GraftCatalog.managedRoot(s, mv))
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$stage/table'
           |PARTITIONED BY (day)
           |TBLPROPERTIES('graft.keys'='symbol,window_start,day')"""
          .stripMargin)
      tickCsv(ev(s, dir)).coalesce(1).sortWithinPartitions("timestamp")
        .write.option("header", "true").csv(raw)
      tickCsv(s.range(1).select(lit("__flush").as("event_type"),
          lit(1.0).as("value"), lit(0L).as("user_id"),
          lit("2024-03-01 00:00:00").cast(TimestampType).as("ts")))
        .coalesce(1).write.option("header", "true").mode("append")
        .csv(raw)
      drain()
      s.sql(
        s"""CREATE MATERIALIZED VIEW $mv KEYED BY
           |(symbol, window_start, day) AS
           |SELECT symbol, sum(n_events) AS n_events_total,
           |  sum(volume_sum) AS vol_total
           |FROM $name GROUP BY symbol""".stripMargin)
    }
    s.sql(s"REFRESH MATERIALIZED VIEW $mv")
    s.sql(s"SELECT symbol, n_events_total, vol_total FROM $mv")
  }

  /** The graft-cdc STREAMING SOURCE under oracle check, CDF path
    * included: the daily rollup lands as a named table (v0 via CTAS)
    * and the stream drains it (initial load at _commit_version 0);
    * THEN a windowed UPDATE (v1) and an early-days DELETE (v2) commit
    * and the SAME checkpoint drains again with maxVersionsPerBatch=1 —
    * so the log must contain genuine update_preimage/update_postimage/
    * delete rows, each under its exact per-commit version (guards pin
    * all three). The oracled output RECONSTRUCTS the final table state
    * from the LOG ALONE (latest-version row per key, postimage
    * preferred, deletes dropped): a broken diff, wrong imaging, or
    * wrong version stamping changes the reconstruction and fails the
    * hash. */
  private def qCdcSource(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "cdc_src_q_" + slug
    val stage = "/tmp/graft_cdc_source/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val srcView = "cdc_src_qv_" + slug
    def drain(): Unit = {
      val q = s.readStream.format("graft-cdc").option("table", name)
        .option("maxVersionsPerBatch", "1").load()
        .writeStream
        .format("parquet")
        .option("path", s"$stage/log")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException("q_cdc_source drain exceeded 120s")
      }
    }
    fixture {
      rmrf(s, stage)
      graft.plans.GraftCatalog.drop(s, name)
      TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id")).createOrReplaceTempView(srcView)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$stage/table'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $srcView""".stripMargin)
      drain() // initial load: the whole v0 table as insert rows
      s.sql(s"UPDATE $name SET daily_volume = daily_volume + 1000000 " +
        "WHERE date BETWEEN DATE'2024-01-08' AND DATE'2024-01-14'")
      s.sql(s"DELETE FROM $name WHERE date < DATE'2024-01-03'")
      drain() // CDF: v0->v1 then v1->v2, one version per micro-batch
    }
    val log = s.read.parquet(s"$stage/log")
    // the CDF legs must actually be in the log, each under its exact
    // commit version — an initial-load-only log would reconstruct the
    // same final state without testing the diff machinery at all
    require(log.filter(col("op") === "update_postimage" &&
        col("_commit_version") === 1).count() > 0 &&
      log.filter(col("op") === "update_preimage" &&
        col("_commit_version") === 1).count() > 0 &&
      log.filter(col("op") === "delete" &&
        col("_commit_version") === 2).count() > 0,
      "CDC log lacks per-version CDF rows")
    // final state from the log alone: per key, the newest version's
    // row, postimage over preimage within a version, deletes dropped
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "date")
      .orderBy(col("_commit_version").desc,
        when(col("op") === "update_preimage", lit(1)).otherwise(lit(0)))
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "delete")
      .select(col("event_type"), col("date"), col("daily_open"),
        col("daily_high"), col("daily_low"), col("daily_close"),
        col("daily_volume"), r4(col("daily_change")).as("daily_change"))
  }

  /** Transform partitioning declared AT CREATE under oracle check:
    * `CREATE TABLE ... PARTITIONED BY (day(ts))` registers the derived
    * day layout in one statement; the INSERT computes the partition
    * column and registers the transform, and the oracled output filters
    * on the NATURAL ts column — the in-query guard pins that the range
    * predicate pruned partition dirs (fewer physical files than the
    * full scan), i.e. the one-statement layout actually produces the
    * day-pruned plan the reference's raw zone wants
    * (realtime_data_consumer.py:108 writes day-partitioned parquet). */
  private def qCreateTransform(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "cat_txq_t_" + slug
    val root = "/tmp/graft_create_transform/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val srcView = "cat_txq_src_" + slug
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      ev(s, dir).select(col("event_id"), col("event_type"),
        col("user_id"), col("value"), col("ts"))
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""CREATE TABLE $name (event_id BIGINT, event_type STRING,
           |  user_id BIGINT, value DOUBLE, ts TIMESTAMP)
           |USING graft LOCATION '$root' PARTITIONED BY (day(ts))
           |TBLPROPERTIES('graft.keys'='event_id,ts')""".stripMargin)
      s.sql(s"INSERT INTO $name SELECT * FROM $srcView")
    }
    val total = VersionedTable.physicalInputFiles(
      s.sql(s"SELECT * FROM $name"))
    val ranged = s.sql(s"SELECT * FROM $name WHERE " +
      "ts >= TIMESTAMP'2024-01-10 00:00:00' AND " +
      "ts < TIMESTAMP'2024-01-15 00:00:00'")
    require(VersionedTable.physicalInputFiles(ranged) < total,
      s"day(ts) transform declared at CREATE did not prune: " +
        s"${VersionedTable.physicalInputFiles(ranged)} of $total files")
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(user_id) AS BIGINT) AS vol
         |FROM $name
         |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP'2024-01-15 00:00:00'
         |GROUP BY event_type""".stripMargin)
  }

  /** ADD COLUMN DEFAULT under oracle check: the early rollup window
    * lands via CTAS (generation 0), `ADD COLUMN src STRING DEFAULT
    * 'legacy'` registers an initial default (metadata-only — pre-add
    * rows surface 'legacy' with no rewrite), `ALTER COLUMN SET DEFAULT
    * 'late'` moves the WRITE default, and a BY NAME INSERT of the tail
    * OMITTING the column fills it — the oracled output reads both
    * generations through the name. */
  private def qColumnDefault(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val name = "cat_cd_t_" + slug
    val root = "/tmp/graft_column_default/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val headView = "cat_cd_head_" + slug
    val tailView = "cat_cd_tail_" + slug
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      daily.filter(col("date") < lit("2024-01-15").cast(DateType))
        .createOrReplaceTempView(headView)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$root'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $headView""".stripMargin)
    }
    s.sql(s"ALTER TABLE $name ADD COLUMN src STRING DEFAULT 'legacy'")
    s.sql(s"ALTER TABLE $name ALTER COLUMN src SET DEFAULT 'late'")
    daily.filter(col("date") >= lit("2024-01-15").cast(DateType))
      .createOrReplaceTempView(tailView)
    s.sql(s"INSERT INTO $name BY NAME SELECT * FROM $tailView")
    s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4)
         |    AS daily_change, src
         |FROM $name""".stripMargin)
  }

  /** CREATE OR REPLACE TABLE under oracle check: the daily rollup lands
    * via CTAS (definition 1), then `CREATE OR REPLACE ... AS SELECT`
    * redefines the SAME name to the mid-January window (new content,
    * constraints/properties reset, one redefine commit + one write);
    * the oracled output is the post-replace content by name, and guards
    * pin that the pre-replace generation still time-travels under its
    * own definition. Oracle = the window subset, independently
    * recomputed. */
  private def qCatalogReplace(s: SparkSession, dir: String): DataFrame = {
    val name = "cat_repl_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = "/tmp/graft_catalog_replace/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val srcView = "cat_repl_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts", "value",
      volume = col("user_id")).createOrReplaceTempView(srcView)
    fixture {
      rmrf(s, root)
      graft.plans.GraftCatalog.drop(s, name)
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$root'
           |PARTITIONED BY (event_type)
           |TBLPROPERTIES('graft.keys'='event_type,date')
           |AS SELECT * FROM $srcView""".stripMargin)
    }
    val n0 = s.sql(s"SELECT count(*) FROM $name").first.getLong(0)
    s.sql(
      s"""CREATE OR REPLACE TABLE $name USING graft
         |PARTITIONED BY (event_type)
         |TBLPROPERTIES('graft.keys'='event_type,date')
         |AS SELECT * FROM $srcView
         |WHERE date BETWEEN DATE'2024-01-08' AND DATE'2024-01-14'"""
        .stripMargin)
    require(s.sql(s"SELECT count(*) FROM $name").first.getLong(0) < n0,
      "REPLACE did not shrink the content to the window")
    require(s.sql(s"SELECT count(*) FROM $name VERSION AS OF 0")
      .first.getLong(0) == n0,
      "pre-replace generation no longer time travels")
    s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4)
         |    AS daily_change
         |FROM $name""".stripMargin)
  }

  /** CTAS + named time travel under oracle check: `CREATE TABLE name
    * USING graft ... AS SELECT` registers and first-writes the daily
    * rollup in ONE statement (v0), an UPDATE then mutates it (v1), and
    * the oracled output is `SELECT ... FROM name VERSION AS OF 0` — the
    * pre-mutation content reached by NAME through Spark's own time
    * travel grammar (plus a TIMESTAMP AS OF guard resolving a far-future
    * instant to the current version). Oracle = the plain daily rollup:
    * time travel must see through the mutation exactly. */
  private def qCatalogCtas(s: SparkSession, dir: String): DataFrame = {
    val name = "cat_ctas_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = "/tmp/graft_catalog_ctas/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    graft.plans.GraftCatalog.drop(s, name)
    val srcView = "cat_ctas_src_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts", "value",
      volume = col("user_id")).createOrReplaceTempView(srcView)
    s.sql(
      s"""CREATE TABLE $name USING graft LOCATION '$root'
         |PARTITIONED BY (event_type)
         |TBLPROPERTIES('graft.keys'='event_type,date')
         |AS SELECT * FROM $srcView""".stripMargin)
    s.sql(s"UPDATE $name SET daily_volume = daily_volume + 1000000 " +
      "WHERE date >= DATE'2024-01-15'")
    require(s.sql(s"SELECT sum(daily_volume) FROM $name TIMESTAMP AS OF " +
        "'2099-01-01'").first.getLong(0) >
      s.sql(s"SELECT sum(daily_volume) FROM $name VERSION AS OF 0")
        .first.getLong(0),
      "TIMESTAMP AS OF did not resolve to the mutated current version")
    s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4)
         |    AS daily_change
         |FROM $name VERSION AS OF 0""".stripMargin)
  }

  /** RENAME COLUMN under oracle check: the daily rollup as a versioned
    * table with stats on daily_close, renamed to close_px METADATA-ONLY
    * (guard: the data-file set is byte-for-byte unchanged), then a
    * post-rename upsert doubling the window's close — mixing
    * generations written under the OLD physical name with generations
    * written after the rename. Guards pin the contract: stats pruning
    * stays engaged on the renamed column (index continuity through the
    * column mapping), and the pre-rename version still reads under the
    * name it recorded. Oracle = the rollup with the window's close
    * doubled, served as close_px. */
  private def qVersionedRename(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_rename/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("daily_close"), fileRows = Some(8))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), s.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      b.result()
    }
    val before = dataFiles()
    val v1 = VersionedTable.renameColumn(s, root, "daily_close", "close_px")
    require(dataFiles() == before,
      "metadata-only violated: RENAME COLUMN touched data files")
    require(VersionedTable.read(s, root, Some(v1 - 1))
      .columns.contains("daily_close"),
      "the pre-rename version lost the name it recorded")
    // post-rename write under the NEW name: double the window's close
    val upd = daily.filter(col("date").between(
      org.apache.spark.sql.functions.lit("2024-01-08").cast(DateType),
      org.apache.spark.sql.functions.lit("2024-01-14").cast(DateType)))
      .withColumnRenamed("daily_close", "close_px")
      .withColumn("close_px", col("close_px") * 2)
    VersionedTable.upsert(s, root, upd, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("close_px"), fileRows = Some(8))
    val minv = daily.agg(org.apache.spark.sql.functions.min("daily_close"))
      .head.getDouble(0)
    val (kept, total) = VersionedTable.skipStats(s, root, "close_px",
      minv, minv)
    require(kept < total,
      s"stats continuity lost through RENAME COLUMN: $kept/$total")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"), col("daily_open"),
        col("daily_high"), col("daily_low"), col("close_px"),
        col("daily_volume"), r4(col("daily_change")).as("daily_change"))
  }

  /** Key-list GDPR erasure under oracle check: the documents table as a
    * versioned table with a BLOOM-indexed doc_id, then
    * [[VersionedTable.deleteWhereInDV]] erases the three smallest ids —
    * the erasure request's natural shape (a batch of subject ids). The
    * bloom probes pick the needles' files; the commit is a deletion
    * vector (guard: the data-file set is byte-for-byte unchanged).
    * Oracle = documents minus the three ids. */
  private def qVersionedDvIn(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_dv_in/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    VersionedTable.upsert(s, root, docs, Seq("doc_id", "lang"), Seq("lang"),
      statsCols = Seq("doc_id"), fileRows = Some(500),
      bloomCols = Seq("doc_id"))
    val victims = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(root), s.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      b.result()
    }
    val before = dataFiles()
    val v1 = VersionedTable.deleteWhereInDV(s, root, "doc_id", victims)
    require(v1 == 1, s"key-list DV delete did not commit: $v1")
    require(dataFiles() == before,
      "merge-on-read violated: a data file was written or replaced")
    VersionedTable.read(s, root)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** The pure-SQL surface under oracle check: the same date-indexed
    * rollup fixture, queried ENTIRELY through
    * `SELECT ... FROM graft_table('root') WHERE ...` — the table
    * function resolves to the pinned relation, Catalyst pushes the
    * WHERE to it, and PruneVersionedScan substitutes the pruned scan
    * (guard pins fewer physical files than the bare relation). Oracle
    * identical to q_versioned_skip's. */
  private def qVersionedSql(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_sql/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    graft.GraftExtensions.register(s)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val q = s.sql(
      s"""SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, round(daily_change, 4) AS daily_change
         |FROM graft_table('$root')
         |WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
        .stripMargin)
    val total = VersionedTable.physicalInputFiles(
      s.sql(s"SELECT * FROM graft_table('$root')"))
    require(VersionedTable.physicalInputFiles(q) < total,
      "SQL WHERE over graft_table did not prune files")
    q
  }

  /** Zero-copy RESTORE under oracle check: v0 = the daily rollup, v1 =
    * an upsert that corrupts a date window (daily_close := -1), then
    * restore(0) commits v0's manifest as v2 — no data moves. Result =
    * the table AFTER the rollback; oracle = the plain rollup, so any
    * leak of v1's corruption (or loss of v0 rows) hash-fails. Guards:
    * the restore actually committed a third version, and the corrupted
    * rows remain time-travel readable at v1 (history is append-only). */
  private def qVersionedRestore(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_restore/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    VersionedTable.upsert(s, root,
      daily.filter(col("date").between(
          lit("2024-01-08").cast(DateType), lit("2024-01-14").cast(DateType)))
        .withColumn("daily_close", lit(-1.0)),
      Seq("event_type", "date"), Seq("event_type"),
      statsCols = Seq("date"), fileRows = Some(8))
    val restored = VersionedTable.restore(s, root, 0)
    require(restored == 2, s"restore committed $restored, expected 2")
    require(VersionedTable.read(s, root, Some(1))
      .filter(col("daily_close") === -1.0).count() > 0,
      "time travel lost the superseded version")
    VersionedTable.read(s, root)
      .select(col("event_type"), col("date"),
        col("daily_open"), col("daily_high"), col("daily_low"),
        col("daily_close"), col("daily_volume"),
        r4(col("daily_change")).as("daily_change"))
  }

  /** Metadata-only COUNT(*) / MIN / MAX under oracle check: the rollup
    * is written date-indexed, a date window deleted (rewriting some
    * dirs, dropping others), and the emitted row comes ENTIRELY from
    * [[VersionedTable.fastCount]] + [[VersionedTable.fastMinMax]] — pure
    * manifest arithmetic, zero data I/O (guards fail if coverage ever
    * lapses and the metadata path degrades to None). Oracle = the
    * rollup minus the deleted window, aggregated by DuckDB. */
  private def qVersionedFastcount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = "/tmp/graft_versioned_fastcount/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    VersionedTable.deleteWhere(s, root, "date",
      java.sql.Date.valueOf("2024-01-08"), java.sql.Date.valueOf("2024-01-14"))
    val n = VersionedTable.fastCount(s, root).getOrElse(
      sys.error("fastCount lost dir-count coverage — metadata-only " +
        "COUNT(*) degraded to a scan"))
    val (dLo, dHi) = VersionedTable.fastMinMax(s, root, "date").getOrElse(
      sys.error("fastMinMax lost stat coverage — metadata-only MIN/MAX " +
        "degraded to a scan"))
    Seq((n, dLo.asInstanceOf[java.sql.Date], dHi.asInstanceOf[java.sql.Date]))
      .toDF("n_rows", "min_date", "max_date")
  }

  /** Z-order box query through the versioned table: lineitem points on a
    * 64x64 grid (l_partkey%64, l_suppkey%64) written z-CLUSTERED with
    * zval stats; the 2-D box decomposes into z-intervals
    * (ZOrder.zIntervalsForBox) fed to readWhereIn — each interval tight
    * against the layout where the single covering z-range would prune
    * nothing (guard asserts exactly that). Oracle = the plain 2-D box
    * filter in SQL; the z machinery is internal to the scan.
    *
    * The fixture (600k-row table write + OPTIMIZE-ZORDER rewrite at
    * sf0.1) is MEMOIZED on its committed-version signature: the operator
    * under test is the pruned multi-range READ, so bench reps 2+ must
    * price the scan, not rebuild the lake each rep. The path is
    * fixture-version-tagged (zb2) and the content is a pure function of
    * (dir, code), so reuse is result-identical; a crashed build leaves
    * no version-2 marker and rebuilds. */
  private def qZorderBox(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_zorder_box/zb2_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    // committed signature: v0 = upsert, v1 = z-order compact
    if (VersionedTable.currentVersion(s, root) != Some(1)) fixture {
      rmrf(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 64).as("px"), (col("l_suppkey") % 64).as("py"))
        .withColumn("grp", lit("all"))
        .withColumn("zval",
          ZOrder.zValueN(Seq(col("px"), col("py")), bits = 6))
      VersionedTable.upsert(s, root, li,
        Seq("l_orderkey", "l_linenumber", "grp"), Seq("grp"),
        statsCols = Seq("zval"), fileRows = Some(16384))
      // OPTIMIZE ZORDER over the same dims: the query below runs against
      // the COMPACTED generation, proving re-clustering preserves the
      // z-interval skipping (a plain compact would destroy it)
      VersionedTable.compact(s, root, statsCols = Seq("zval"),
        fileRows = Some(16384), zOrderCols = Seq("px", "py"))
    }
    val (xlo, xhi, ylo, yhi) = (20L, 40L, 1L, 30L)
    val intervals = ZOrder.zIntervalsForBox(xlo, xhi, ylo, yhi, bits = 6,
      maxIntervals = 32)
    val (kWide, total) = VersionedTable.skipStats(s, root, "zval",
      intervals.head._1, intervals.last._2)
    val kMax = intervals.map { case (lo, hi) =>
      VersionedTable.skipStats(s, root, "zval", lo, hi)._1 }.max
    require(total < 2 || kMax < kWide,
      s"decomposed intervals did not out-prune the wide range " +
        s"($kMax vs $kWide of $total)")
    VersionedTable.readWhereIn(s, root, "zval",
        intervals.map { case (a, b) => (a: Any, b: Any) })
      .filter(col("px").between(xlo, xhi) && col("py").between(ylo, yhi))
      .select("l_orderkey", "l_linenumber", "px", "py")
  }

  /** [[qZorderBox]] in THREE dimensions: lineitem points on a 32³ grid
    * (partkey/suppkey/quantity mod 32) z-clustered on the 15-bit 3-D
    * interleave; the 3-D box decomposes via the aligned-ORTHANT
    * recursion (ZOrder.zIntervalsForBoxN — the N-D generalization the
    * 2-D quad path now delegates to) into z-intervals fed to
    * readWhereIn. Same out-prunes-the-wide-range guard; oracle = the
    * plain 3-D box filter in SQL. Fixture memoized like qZorderBox
    * (version-signature zb3). */
  private def qZorderBoxNd(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_zorder_box_nd/zb3_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (VersionedTable.currentVersion(s, root) != Some(1)) fixture {
      rmrf(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 32).as("px"), (col("l_suppkey") % 32).as("py"),
          (col("l_quantity").cast("long") % 32).as("pz"))
        .withColumn("grp", lit("all"))
        .withColumn("zval",
          ZOrder.zValueN(Seq(col("px"), col("py"), col("pz")), bits = 5))
      VersionedTable.upsert(s, root, li,
        Seq("l_orderkey", "l_linenumber", "grp"), Seq("grp"),
        statsCols = Seq("zval"), fileRows = Some(16384))
      VersionedTable.compact(s, root, statsCols = Seq("zval"),
        fileRows = Some(16384), zOrderCols = Seq("px", "py", "pz"))
    }
    val box = Seq((5L, 20L), (8L, 30L), (10L, 25L))
    val intervals = ZOrder.zIntervalsForBoxN(box, bits = 5,
      maxIntervals = 48)
    val (kWide, total) = VersionedTable.skipStats(s, root, "zval",
      intervals.head._1, intervals.last._2)
    val kMax = intervals.map { case (lo, hi) =>
      VersionedTable.skipStats(s, root, "zval", lo, hi)._1 }.max
    require(total < 2 || kMax < kWide,
      s"decomposed 3-D intervals did not out-prune the wide range " +
        s"($kMax vs $kWide of $total)")
    VersionedTable.readWhereIn(s, root, "zval",
        intervals.map { case (a, b) => (a: Any, b: Any) })
      .filter(col("px").between(box(0)._1, box(0)._2) &&
        col("py").between(box(1)._1, box(1)._2) &&
        col("pz").between(box(2)._1, box(2)._2))
      .select("l_orderkey", "l_linenumber", "px", "py", "pz")
  }

  /** The PruneVersionedScan optimizer-rule path under oracle check: same
    * fixture as q_versioned_skip, but the date window is expressed as a
    * PLAIN .filter over VersionedScan.table — Catalyst pushes it to the
    * custom leaf, the rule extracts the bounds and substitutes the
    * pruned scan (guard asserts fewer files than the full relation in
    * the physical plan). Oracle identical to q_versioned_skip. */
  private def qVersionedScanRule(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_rule/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    def files(df: DataFrame): Int = VersionedTable.physicalInputFiles(df)
    val all = graft.plans.VersionedScan.table(s, root)
    val filtered = graft.plans.VersionedScan.table(s, root)
      .filter(col("date") >= lit("2024-01-08").cast(DateType) &&
        col("date") <= lit("2024-01-14").cast(DateType))
    require(files(filtered) < files(all),
      s"rule did not prune: ${files(filtered)} of ${files(all)} files")
    filtered.select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** Derived (hidden) partitioning: the raw event stream lands in a
    * versioned table PARTITIONED BY a `day` column registered as
    * day(ts) — Iceberg's partition-transform idea — and the query then
    * filters on the NATURAL ts column only. The registration maps the
    * ts bounds into day-dir pruning inside the optimizer rule's file
    * selection (guard pins fewer files than the bare relation), while
    * the write-time invariant day == day(ts) rides the CHECK machinery.
    * Oracle filters the raw events by the same ts range. */
  private def qVersionedDerived(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_derived/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val events = ev(s, dir).select(col("event_id"), col("event_type"),
      col("user_id"), col("value"), col("ts"))
      .withColumn("day", VersionedTable.derivedPartitionColumn("day", "ts"))
    VersionedTable.upsert(s, root, events, Seq("event_id", "day"),
      Seq("day"))
    VersionedTable.addDerivedPartition(s, root, "day", "day", "ts")
    def files(df: DataFrame): Int = VersionedTable.physicalInputFiles(df)
    val all = graft.plans.VersionedScan.table(s, root)
    val lo = java.sql.Timestamp.valueOf("2024-01-08 06:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-12 18:00:00")
    val filtered = graft.plans.VersionedScan.table(s, root)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
    require(files(filtered) < files(all),
      s"derived-partition pruning did not engage: " +
        s"${files(filtered)} of ${files(all)} files")
    filtered.select(col("event_id"), col("event_type"), col("value"))
  }

  /** IN-list point lookups through the optimizer-rule path: the bloom-
    * indexed documents fixture queried with a plain `doc_id IN (...)`
    * filter over VersionedScan.table — the rule turns the IN into a
    * per-value bloom + stats probe UNION, so only files that might hold
    * one of the three ids are scanned (guard pins fewer files than the
    * bare relation). The ids are the 3rd/7th/11th smallest doc_ids
    * (deterministic); oracle computes the same set via row_number. */
  private def qVersionedScanIn(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_in/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val docs = tbl(s, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    VersionedTable.upsert(s, root, docs, Seq("doc_id", "lang"), Seq("lang"),
      statsCols = Seq("n_chars"), fileRows = Some(64),
      bloomCols = Seq("doc_id"))
    val needles = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(11).collect().map(_.getLong(0))
    val picked: Seq[Any] = Seq(needles(2), needles(6), needles(10))
    def files(df: DataFrame): Int = VersionedTable.physicalInputFiles(df)
    val all = graft.plans.VersionedScan.table(s, root)
    val q = graft.plans.VersionedScan.table(s, root)
      .filter(col("doc_id").isin(picked: _*))
    require(files(q) < files(all),
      s"IN pruning did not engage: ${files(q)} of ${files(all)} files")
    q.select("doc_id", "lang", "source", "n_chars")
  }

  /** Partition-directory pruning through the optimizer-rule path: the
    * daily-rollup fixture partitioned by event_type, queried with a plain
    * equality on the PARTITION column — the rule filters the manifest's
    * directory list before any file stats are consulted, so untargeted
    * partitions never reach the physical scan (guard pins fewer files
    * than the bare relation). Target = min(event_type), deterministic at
    * every scale. */
  private def qVersionedScanPart(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_part/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    VersionedTable.upsert(s, root, daily, Seq("event_type", "date"),
      Seq("event_type"), statsCols = Seq("date"), fileRows = Some(8))
    val target = daily.agg(min(col("event_type"))).head().getString(0)
    def files(df: DataFrame): Int = VersionedTable.physicalInputFiles(df)
    val all = graft.plans.VersionedScan.table(s, root)
    val q = graft.plans.VersionedScan.table(s, root)
      .filter(col("event_type") === target)
    require(files(q) < files(all),
      s"partition pruning did not engage: ${files(q)} of ${files(all)} files")
    q.select(col("event_type"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("daily_close"), col("daily_volume"),
      r4(col("daily_change")).as("daily_change"))
  }

  /** Bloom-index point lookup on the versioned table: documents written
    * partitioned by lang with a per-file Bloom over doc_id (UNCLUSTERED —
    * files are ordered by n_chars, so min/max ranges on doc_id are wide
    * and useless) and a needle doc_id fetched through
    * [[VersionedTable.readWhereEq]] — only files whose bloom might
    * contain the id are scanned (guard asserts the skip engaged). The
    * needle is the 7th-smallest doc_id (arbitrary but deterministic);
    * oracle = the plain SQL point lookup. */
  private def qVersionedBloom(s: SparkSession, dir: String): DataFrame = {
    val root = "/tmp/graft_versioned_bloom/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    rmrf(s, root)
    val docs = tbl(s, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    VersionedTable.upsert(s, root, docs, Seq("doc_id", "lang"), Seq("lang"),
      statsCols = Seq("n_chars"), fileRows = Some(64),
      bloomCols = Seq("doc_id"))
    val needle = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(7).collect().last.getLong(0)
    val (kept, total) = VersionedTable.skipStatsEq(s, root, "doc_id", needle)
    require(kept < total,
      s"bloom skipping did not engage: $kept of $total files kept")
    VersionedTable.readWhereEq(s, root, "doc_id", needle)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Ordered CDC apply over the daily rollup: updates (op=U, seq 1,
    * even-user recompute from Jan 15) then tombstones (op=D, seq 2, dates
    * from Jan 19) — keep-last per (key, date) means D beats U on the
    * overlap, so [15,18] updates, [19,20] disappears, earlier target rows
    * survive. Tombstones for dates beyond the target are no-ops. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val daily = TimeWindows.dailyOhlcv(ev(s, dir), "event_type", "ts",
      "value", volume = col("user_id"))
    val target = daily.filter(col("date") <= lit("2024-01-20").cast(DateType))
    val upd = TimeWindows.dailyOhlcv(
        ev(s, dir).filter(col("user_id") % 2 === 0),
        "event_type", "ts", "value", volume = col("user_id"))
      .filter(col("date") >= lit("2024-01-15").cast(DateType))
      .withColumn("op", lit("U")).withColumn("seq", lit(1))
    val del = daily.filter(col("date") >= lit("2024-01-19").cast(DateType))
      .withColumn("op", lit("D")).withColumn("seq", lit(2))
    Merge.applyCdc(target, upd.unionByName(del), Seq("event_type", "date"),
        Seq("seq"))
      .withColumn("daily_change", r4(col("daily_change")))
  }

  // ------------------------------------------------------ window functions

  private val evOrder = Seq("ts", "event_id")

  // --------------------------------------------------- technical indicators
  // The stock-domain layer the reference's DDL/dashboards imply but its jobs
  // never compute (reference stops at MA + rolling stddev). All are per-key
  // ordered series ops on events (key = event_type, price = value,
  // volume = user_id as the integer volume proxy used by every windowed
  // query in this file).

  private def qBollinger(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.bollinger(ev(s, dir), "event_type", evOrder, "value")
      .select(col("event_id"), col("event_type"),
        r6(col("bb_ma")).as("bb_ma"), r6(col("bb_upper")).as("bb_upper"),
        r6(col("bb_lower")).as("bb_lower"), r6(col("pct_b")).as("pct_b"))

  private def qRsi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.rsi(ev(s, dir), "event_type", evOrder, "value")
      .select(col("event_id"), col("event_type"),
        r6(col("rsi_14")).as("rsi_14"))

  private def qVwapObv(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.vwapObv(ev(s, dir), "event_type", "ts", evOrder,
        "value", col("user_id"))
      .select(col("event_id"), col("event_type"),
        r6(col("vwap")).as("vwap"), col("obv"))

  private def qStochastic(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.stochastic(ev(s, dir), "event_type", evOrder, "value")
      .select(col("event_id"), col("event_type"),
        r6(col("don_lo")).as("don_lo"), r6(col("don_hi")).as("don_hi"),
        r6(col("pct_k")).as("pct_k"), r6(col("pct_d")).as("pct_d"))

  private def qDrawdown(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.drawdown(ev(s, dir), "event_type", evOrder, "value")
      .select(col("event_id"), col("event_type"),
        r6(col("run_max")).as("run_max"), r6(col("drawdown")).as("drawdown"),
        r6(col("cum_return")).as("cum_return"))

  /** EMA/MACD over hourly mean-price bars. The bar is the exactAvg shape
    * (4dp-rounded sum / non-null count, NULL for all-NULL hours) so both
    * engines seed the recurrence with identical doubles; the oracle replays
    * the recurrence as a recursive CTE (q_macd in oracleSql). Bars rather
    * than raw ticks keep the oracle's recursion depth at the per-key bar
    * count. */
  /** Shared hourly mean-price bars for the recurrence queries (q_macd,
    * q_ewm): the exactAvg shape — 4dp-rounded sum / non-null count, NULL
    * for all-NULL hours — so both engines seed recurrences with identical
    * doubles. ONE definition: the float-discipline contract must not fork
    * between the two consumers. */
  private def hourlyBars(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
      .agg((round(sum("value"), 4) / nullif(count(col("value")), lit(0L)))
        .as("bar"))

  private def qMacd(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    graft.ops.Indicators.withEmaMacd(bars, "event_type", Seq("hour_start"), "bar")
      .select(col("event_type"), col("hour_start"), r6(col("bar")).as("bar"),
        r6(col("ema_fast")).as("ema_fast"), r6(col("ema_slow")).as("ema_slow"),
        r6(col("macd")).as("macd"), r6(col("signal")).as("signal"),
        r6(col("histogram")).as("histogram"))
  }

  /** EWMA mean + variance over the same hourly bars as q_macd (span 20).
    * The oracle replays West's recurrence as a recursive CTE. */
  private def qEwm(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    graft.ops.Indicators.withEwm(bars, "event_type", Seq("hour_start"),
        "bar", span = 20)
      .select(col("event_type"), col("hour_start"), r6(col("bar")).as("bar"),
        r6(col("ewm_mean")).as("ewm_mean"), r6(col("ewm_var")).as("ewm_var"))
  }

  /** Holt level+trend smoothing with one-step-ahead forecast over the
    * same hourly bars as q_macd (α=0.5, β=0.25 — dyadic). The oracle
    * replays the recurrence as a recursive CTE. */
  private def qHolt(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    graft.ops.Indicators.withHoltLinear(bars, "event_type",
        Seq("hour_start"), "bar")
      .select(col("event_type"), col("hour_start"), r6(col("bar")).as("bar"),
        r6(col("holt_level")).as("holt_level"),
        r6(col("holt_trend")).as("holt_trend"),
        r6(col("holt_forecast")).as("holt_forecast"),
        r6(col("holt_residual")).as("holt_residual"))
  }

  /** Two-sided CUSUM drift monitor over the same hourly bars as q_macd
    * (slack 0.5σ, decision interval 4σ). The oracle replays the max(0,·)
    * recurrence as a recursive CTE over engine-identical μ/σ. */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    graft.ops.Indicators.withCusum(bars, "event_type", Seq("hour_start"),
        "bar", kSigma = 0.5, hSigma = 4.0)
      .select(col("event_type"), col("hour_start"), r6(col("bar")).as("bar"),
        r6(col("cusum_pos")).as("cusum_pos"),
        r6(col("cusum_neg")).as("cusum_neg"), col("cusum_alarm"))
  }

  private def qWindowMa(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.movingAverages(ev(s, dir), "event_type",
        evOrder, "value", Seq(5, 15, 30))
      .select(col("event_id"), col("event_type"),
        r6(col("ma_5")).as("ma_5"), r6(col("ma_15")).as("ma_15"),
        r6(col("ma_30")).as("ma_30"))

  /** Trailing 10-minute time-RANGE frame per event type: the frame adapts
    * to tick spacing (vs the fixed-row W1 frames). Epoch-second ordering;
    * equal-timestamp peers share a frame, so the aggregate is
    * tie-deterministic without a row tiebreaker. */
  private def qWindowTimeRange(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.trailingTimeAgg(ev(s, dir), "event_type", "ts",
        Seq("trail_sum" -> ((c: Column) => sum(c)),
            "trail_n" -> ((c: Column) => count(c)),
            "trail_max" -> ((c: Column) => max(c))),
        "value", seconds = 600L)
      .select(col("event_id"), col("event_type"),
        // tie-immune frame average (exactAvg discipline): the frame's row
        // count is arbitrary, so round(avg, 6) could tie at 32*odd rows
        (round(col("trail_sum"), 4) / col("trail_n")).as("trail_avg"),
        col("trail_n"), col("trail_max"))

  /** Quality deciles per language: ntile(10) over (quality_score, doc_id) —
    * the keep-top-N% curation cut, tie-broken to a total order so bucket
    * boundaries are engine-independent. */
  private def qQualityDeciles(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScore(
      TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"), "text",
        TextAnalysis.defaultStopwords))
      .select(col("doc_id"), col("lang"),
        r6(col("quality_score")).as("quality_score"))
    graft.ops.WindowAnalytics.quantileBuckets(scored, Seq("lang"),
      Seq(col("quality_score").desc, col("doc_id")), n = 10,
      bucketCol = "decile")
  }

  private def qWindowStddev(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowAnalytics.rollingVolatility(ev(s, dir), "event_type",
        evOrder, "value", Seq(5, 15))
      .select(col("event_id"), col("event_type"),
        r6(col("volatility_5")).as("volatility_5"),
        r6(col("volatility_15")).as("volatility_15"))

  // ----------------------------------------------------- time windows/sets

  private def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    slidingMetrics(s, dir, "15 minutes", "5 minutes")
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma"),
        col("volume_sum"), col("n_events"))

  private def qWindowTumbling(s: SparkSession, dir: String): DataFrame =
    TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = "5 minutes"))
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma"),
        col("volume_sum"), col("n_events"))

  /** Gap-based sessionization (30-minute gap) per user. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.byGap(ev(s, dir), "user_id", "ts", "value",
        gapMinutes = 30, tiebreak = "event_id")
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), r4(col("value_sum")).as("value_sum"))

  /** Native session_window cross-check: same gap sessions via Spark's
    * built-in session aggregate (streaming-capable; exclusive-end boundary
    * — see Sessionize.bySessionWindow). */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Sessionize.bySessionWindow(ev(s, dir), "user_id", "ts", "value",
        gapMinutes = 30)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), r4(col("value_sum")).as("value_sum"))

  /** Gaps-and-islands: maximal same-event_type runs per user (NULL is a
    * groupable state; run_idx 1-based — see Sessionize.runs). */
  private def qRuns(s: SparkSession, dir: String): DataFrame =
    Sessionize.runs(ev(s, dir), "user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("run_idx"), col("event_type"),
        col("run_start"), col("run_end"), col("n_events"))

  /** True debounce (60 s): kept-flag per event, decision replayed by a
    * recursive-CTE oracle over the same all-integer µs state. */
  private def qDebounce(s: SparkSession, dir: String): DataFrame =
    Sessionize.debounce(ev(s, dir), "user_id", "ts", "event_id",
        minGapSeconds = 60)
      .select(col("user_id"), col("event_id"), col("kept"))

  /** ABC classification of customers by order revenue (cents discipline;
    * all-integer cumulative-share compare — see Stats.abcClassify). */
  private def qAbcClassify(s: SparkSession, dir: String): DataFrame =
    Stats.abcClassify(tbl(s, dir, "orders"), Seq.empty, "o_custkey",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .select(col("o_custkey"), col("measure_sum"), col("cum_sum"),
        col("abc_class"))

  /** PII scrubbing: redacted text + per-pattern audit counts over docs
    * salted with deterministic synthetic PII (the corpus itself is clean,
    * so the query implants one of each pattern keyed by doc_id — both
    * engines construct and scrub the identical string). */
  private def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val salted = tbl(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("555-"), format_string("%03d", col("doc_id") % 1000),
        lit(".1234 ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7")).as("text"))
    TextAnalysis.withPiiRedaction(salted, "text")
      .select(col("doc_id"), col("n_email"), col("n_ssn"), col("n_phone"),
        col("n_ipv4"), col("text_redacted"))
  }

  /** S6: JSONL roundtrip — events -> one-JSON-object-per-line landing ->
    * schema'd scan (the reference's Kafka message shape, offline). */
  private def qScanJsonl(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_jsonl_roundtrip/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    Ingest.writeJsonl(ev(s, dir).select(col("event_id"), col("event_type"),
      col("user_id"), col("value")), path)
    Ingest.readJsonl(s, path, StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("user_id", LongType), StructField("value", DoubleType))))
  }

  /** Salted two-phase aggregate: output identical to a plain groupBy; the
    * salting is a physical-plan property (skewed-key shard split). */
  private def qAggSalted(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAggregate(ev(s, dir), Seq("event_type"), "value", salt = 16)
      .select(col("event_type"), col("n"), r4(col("value_sum")).as("value_sum"),
        col("value_min"), col("value_max"),
        exactAvg(col("value_sum"), col("n_values")).as("value_avg"))

  /** U1 (faithful): the reference's positional 3-way union — the 5-minute
    * branch's metrics land under *_15m column names, the 1-hour branch
    * pads nulls (SURVEY §8 / airflow analytics processor:206-215). */
  private def qUnionPositional(s: SparkSession, dir: String): DataFrame = {
    def m(width: String) = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = width))
    val b5 = m("5 minutes").select(col("event_type"), col("window_start"),
      exactAvg(col("value_sum"), col("n_events")).as("avg_price_15m"),
      r6(col("volatility")).as("volatility_15m"))
    val b15 = m("15 minutes").select(col("event_type"), col("window_start"),
      exactAvg(col("value_sum"), col("n_events")).as("avg_price_15m"),
      r6(col("volatility")).as("volatility_15m"))
    val b1h = m("1 hour").select(col("event_type"), col("window_start"),
      exactAvg(col("value_sum"), col("n_events")).as("avg_price_15m"),
      lit(null).cast(DoubleType).as("volatility_15m"))
    Combine.unionTaggedPositional(Seq("5min" -> b5, "15min" -> b15, "1hour" -> b1h))
  }

  /** U1 (clean long-format variant): 5m/15m/1h metrics stacked, tagged. */
  private def qUnionAll(s: SparkSession, dir: String): DataFrame = {
    def m(width: String) = TimeWindows.flattenWindow(
      TimeWindows.metricWindow(ev(s, dir), "event_type", "ts", "value",
        volume = col("user_id"), width = width))
      .select(col("event_type"), col("window_start"),
        exactAvg(col("value_sum"), col("n_events")).as("ma"),
        col("volume_sum"), col("n_events"))
    Combine.unionLong(Seq(
      "5m" -> m("5 minutes"), "15m" -> m("15 minutes"), "1h" -> m("1 hour")))
  }

  // ------------------------------------------------------ scalar functions

  private def qCaseWhen(s: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.WindowAnalytics.rollingVolatility(
      graft.ops.WindowAnalytics.movingAverages(
        graft.ops.WindowAnalytics.movingAverages(ev(s, dir), "event_type",
          evOrder, "value", Seq(15, 30)),
        "event_type", evOrder, "user_id", Seq(5, 15), prefix = "vol"),
      "event_type", evOrder, "value", Seq(15))
    base.select(col("event_id"), col("event_type"),
      r6(col("ma_15")).as("ma_15"), r6(col("ma_30")).as("ma_30"),
      r6(col("volatility_15")).as("volatility_15"),
      Signals.priceTrend(col("ma_15"), col("ma_30")).as("price_trend"),
      Signals.volatilityLevel(col("volatility_15"), high = 35.0,
        medium = 25.0).as("volatility_level"),
      Signals.volumeTrend(col("vol_5"), col("vol_15"), ratio = 1.02)
        .as("volume_trend"))
  }

  private def qTopK(s: SparkSession, dir: String): DataFrame =
    TopK.topK(tbl(s, dir, "orders"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 10)

  private def qScalarDatetime(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
      col("event_id"),
      date_trunc("minute", col("ts")).as("minute_ts"),
      date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
      (col("ts") + expr("INTERVAL 15 MINUTES")).as("ts_plus_15m"),
      // the reference's date_add(_, 15) bug: adds 15 DAYS though named
      // window_15m_end (spark_batch_processor.py:67, SURVEY §8.2) —
      // reproduced faithfully alongside the corrected column above
      date_add(col("ts"), 15).as("window_15m_end_ref"),
      to_date(col("ts")).as("event_date"))

  private def qScalarString(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      upper(col("lang")).as("lang_uc"),
      regexp_replace(col("source"), "[0-9]+", "").as("src_alpha"),
      concat_ws("-", col("lang"), col("source")).as("lang_src"),
      substring(col("text"), 1, 10).as("prefix10"),
      length(col("text")).as("n_len"))

  private def qScalarMath(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
      col("event_id"),
      (col("value") * lit(1.05)).as("v_up"),
      ((col("value") - lit(50.0)) / lit(50.0) * lit(100.0)).as("pct_vs_50"),
      abs(col("value") - lit(50.0)).as("abs_dev"),
      floor(col("value")).as("v_floor"),
      ceil(col("value")).as("v_ceil"))

  private def qNullImpute(s: SparkSession, dir: String): DataFrame =
    Clean.impute(
      ev(s, dir).select(
        col("event_id"),
        when(col("value") < 1, lit(null).cast(DoubleType))
          .otherwise(col("value")).as("v"),
        when(col("event_type") === "error", lit(null).cast(StringType))
          .otherwise(col("event_type")).as("et")),
      numeric = Seq("v"), strings = Seq("et"))

  private def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .withColumn("rebuilt", to_json(struct(col("k"))))

  // --------------------------------------------- dedup (training-data ops)

  /** Corpus shingle index, built once per (session, dir) and shared by the
    * four n-gram dedup queries — the "index once, query many" artifact of a
    * production dedup pipeline (at 100 TB this is a materialized table on
    * storage, written by one tokenization pass and read by every dedup and
    * audit job; re-tokenizing the corpus per query would multiply the
    * dominant cost 4x). Persisted MEMORY_AND_DISK; lifetime = session,
    * bounded by the number of distinct corpora (dirs) touched. */
  private val shingleIndex =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    shingleIndex.computeIfAbsent((s, dir), { _ =>
      FuzzyDedup.shingleHashes(tbl(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("doc_id").as("id"), col("h64"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  private def docBlocks(s: SparkSession, dir: String, block: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id").as("id"), col(block).as("block"))

  /** Second shared artifact of the dedup pipeline: the UNTHRESHOLDED
    * lang-blocked pair-score table (id1, id2, n_common, n1, n2) — one
    * row per df-capped co-occurring pair (localCheckpointed by
    * FuzzyDedup.pairScoreTableFromShingles; 290 K rows at sf0.1). Both
    * score families are pure column arithmetic over it (jaccard =
    * n_common/(n1+n2−n_common), containment = n_common/min(n1,n2)), so
    * filtering the shared table is EXACTLY the per-threshold
    * recomputation, minus a repeated intersection self-join over the
    * corpus per consumer (the dominant cost of the family). */
  private val pairScores =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def docPairScores(s: SparkSession, dir: String): DataFrame =
    pairScores.computeIfAbsent((s, dir), { _ =>
      FuzzyDedup.pairScoreTableFromShingles(docShingles(s, dir),
        Some(docBlocks(s, dir, "lang")), maxDf = Some(1000))
    })

  /** Lang-blocked verified jaccard pairs at the LOWEST threshold any
    * consumer needs (0.1), derived from [[docPairScores]]; filtered per
    * consumer: the 0.1 report query, the 0.5 corpus dedup, the 0.7
    * minhash ground truth. */
  private def docPairs01(s: SparkSession, dir: String): DataFrame =
    docPairScores(s, dir)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= 0.1)
      .select("id1", "id2", "n_common", "n1", "n2", "jaccard")

  /** Third shared artifact: the numPerm=64 MinHash signature table — both
    * banding configurations (16 and 32 bands) derive from it, so the
    * sketch aggregation over the full shingle table runs once. */
  private val minhashSigs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def docSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSigs.computeIfAbsent((s, dir), { _ =>
      FuzzyDedup.minhashSignaturesFromShingles(docShingles(s, dir),
          numPerm = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Same exact 0.7-threshold pair set a third way: PPJoin-style prefix
    * filtering (rarest-first global order, per-doc prefix exposure, exact
    * verify on candidates only) — deterministic equality to the all-pairs
    * result, no banding recall contract. Oracle = the q_dedup_jaccard SQL
    * at the 0.7 threshold, so DuckDB recomputes the full exact pair set
    * independently. */
  private def qDedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.prefixJaccardPairs(docShingles(s, dir),
        Some(docBlocks(s, dir, "lang")), minJaccard = 0.7)
      .withColumn("jaccard", r6(col("jaccard")))

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.exactDupGroups(tbl(s, dir, "documents"), "doc_id", "text")

  private def qDedupJaccard(s: SparkSession, dir: String): DataFrame =
    docPairs01(s, dir)
      .withColumn("jaccard", r6(col("jaccard")))

  /** Containment pairs at >= 0.6: |A∩B|/min(|A|,|B|) — the
    * subset-duplication signal a Jaccard threshold misses when a short
    * doc sits inside a long one. Derived from the shared pair-score
    * table (same arithmetic as FuzzyDedup.containmentPairsFromShingles,
    * minus re-running the intersection self-join the jaccard family
    * already materialized). */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    docPairScores(s, dir)
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.6)
      .select("id1", "id2", "n_common", "n1", "n2", "containment")
      .withColumn("containment", r6(col("containment")))

  /** Containment invariant: the LSH candidate set must cover every exact
    * lang-blocked jaccard pair at >= 0.7 (banding miss probability < 1e-6
    * per pair at this threshold with 16 bands of 4 rows — see
    * minhashVerifiedPairs for the math; a within-lang exact pair is a
    * fortiori a global true pair, so global candidates must contain it).
    * Emits the oracle-checkable exact-pair count and a missed count that
    * must be 0; the raw candidate set itself is engine-specific (Spark
    * xxhash64 family) and stays unoracled by design. */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val cand = FuzzyDedup.minhashCandidatesFromShingles(docShingles(s, dir),
      numPerm = 64, bands = 16,
      precomputedSig = Some(docSignatures(s, dir)))
    val exact = docPairs01(s, dir).filter(col("jaccard") >= 0.7)
      .select("id1", "id2")
    val missed = exact.join(cand, Seq("id1", "id2"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
  }

  /** MinHash-LSH banding + exact jaccard verify. With 32 bands of 2 rows a
    * true pair at jaccard j is missed with probability (1-j^2)^32 — at the
    * 0.7 threshold that is < 1e-13, so the verified output equals the exact
    * pair set and IS DuckDB-oracle-checkable (unlike the raw candidate set,
    * whose hash family is engine-specific). */
  private def qDedupMinhashVerified(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.minhashVerifiedPairsFromShingles(docShingles(s, dir),
        minJaccard = 0.7, numPerm = 64, bands = 32,
        precomputedSig = Some(docSignatures(s, dir)))
      .withColumn("jaccard", r6(col("jaccard")))

  /** Containment invariant: identical texts have identical simhashes, share
    * all 4 blocking chunks, and verify at hamming 0 — so every exact-dup
    * (md5-equal) pair MUST appear in simhashPairs with hamming 0. Emits the
    * oracle-checkable exact-dup pair count and a missed count that must be
    * 0; the pair list itself is engine-specific (xxhash64 token hashes). */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val sp = FuzzyDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .filter(col("hamming") === 0).select("id1", "id2")
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed.as("a").join(hashed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val missed = exact.join(sp, Seq("id1", "id2"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact_dup_pairs"))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
  }

  /** End-to-end corpus dedup: jaccard pairs (>= 0.5, blocked by lang) ->
    * connected components -> keep the min-id representative per cluster.
    * Composed from the shared shingle index (same semantics as
    * FuzzyDedup.dedupCorpus, which re-tokenizes per call). */
  private def qDedupApply(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.applyDedup(tbl(s, dir, "documents"), "doc_id",
        docPairs01(s, dir).filter(col("jaccard") >= 0.5)
          .select(col("id1"), col("id2")))
      .select("doc_id", "lang", "source", "n_chars")

  /** Dedup ROI: cluster-size distribution + chars saved by the min-id
    * representative rule, over the same verified ≥0.5-Jaccard pairs. */
  private def qDedupStats(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.dedupStats(tbl(s, dir, "documents"), "doc_id", "n_chars",
      docPairs01(s, dir).filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2")))

  /** Same dedup clusters as q_dedup_apply, but keep the LONGEST member
    * per cluster (min-id tiebreak) — the curation-grade representative
    * rule: prefer the full document over its truncated near-copies. */
  private def qDedupApplyBest(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.applyDedupBest(tbl(s, dir, "documents"), "doc_id",
        docPairs01(s, dir).filter(col("jaccard") >= 0.5)
          .select(col("id1"), col("id2")),
        score = "n_chars")
      .select("doc_id", "lang", "source", "n_chars")

  /** Cross-corpus n-gram overlap per doc (boilerplate / memorization-risk
    * score) off the shared shingle index; docs too short to shingle emit
    * NULLs via the left join. */
  private def qTextNovelty(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"))
      .join(FuzzyDedup.crossDocOverlapFromShingles(docShingles(s, dir))
          .withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        r6(col("overlap_ratio")).as("overlap_ratio"))

  /** Corpus-duplicated span removal (Lee et al. 2022 shape): any token
    * 4-gram appearing in >= max(3, nDocs/1000) distinct docs is
    * boilerplate; covered tokens are dropped and the doc rebuilt. One
    * gram-keyed shuffle for the doc-frequency table, one doc-keyed
    * regroup — never a pair join. */
  private def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    graft.text.Boilerplate.duplicatedSpans(tbl(s, dir, "documents"),
      "doc_id", "text", k = 4, minDf = 3, dfPerDocs = 1000)

  /** First-iteration BPE merge table: adjacent character-pair frequencies
    * weighted by word frequency, top-20 by (freq desc, pair asc). All
    * stages after the word count run on the vocabulary, not the corpus. */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame =
    graft.text.Subword.bpePairStats(tbl(s, dir, "documents"), "text",
      topK = 20)

  /** Full BPE training, 8 greedy merge rounds: the learned merge table
    * (mrank, lhs, rhs, merged, freq). One corpus-sized shuffle builds the
    * vocab; every round after is vocabulary-sized + a 1-row collect. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.text.Subword.bpeTrain(tbl(s, dir, "documents"), "text",
      merges = 8)

  /** The merged subword vocabulary after 8 BPE rounds: top-40 symbols
    * (single chars + merged subwords) by corpus occurrences. */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.text.Subword.bpeVocab(tbl(s, dir, "documents"), "text",
      merges = 8, topK = 40)

  /** Tokenize the corpus with the BPE merges trained on it: per-doc word
    * count + real subword token count (train -> apply, end to end). The
    * segmentation table is vocab-sized and joins back broadcast-shaped. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.text.Subword.bpeEncode(tbl(s, dir, "documents"), "doc_id",
      "text", merges = 8)

  /** The trained tokenizer's token STREAM: one row per emitted subword
    * (doc, word position, symbol position, token) — the segmentation a
    * training pipeline feeds downstream, not just its count. */
  private def qBpeTokens(s: SparkSession, dir: String): DataFrame =
    graft.text.Subword.bpeTokens(tbl(s, dir, "documents"), "doc_id",
      "text", merges = 8)

  /** Token packing on the TRAINED tokenizer's counts (bpeEncode, k=8)
    * instead of the regex proxy: 512-token packs per language over real
    * subword totals — train -> count -> pack, end to end. */
  private def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val counts = graft.text.Subword.bpeEncode(docs, "doc_id", "text",
      merges = 8)
    Curate.tokenPack(
      counts.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens"),
      partitionCols = Seq("lang"), order = Seq(col("doc_id")),
      tokensCol = "n_tokens", budget = 512L)
  }

  /** Winnowing fingerprints (MOSS): per-doc count + exact integer
    * checksum of the selected (pos, hash) set at k=4, w=5 — the packed
    * argmin key makes rightmost-tie selection a single window min. */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.fingerprintSummary(tbl(s, dir, "documents"),
      "doc_id", "text", k = 4, w = 5)

  /** Benford first-digit audit of the price column (fixed-point cents —
    * integer leading-digit extraction, no float log in the digit path). */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    Stats.benford(tbl(s, dir, "lineitem"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))

  /** Pareto frontier of parts — max total shipped quantity, min observed
    * price — via the distinct-x cummin formulation (no pair join); the
    * oracle checks it against the literal NOT EXISTS dominance
    * definition. */
  private def qPareto(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skyline.skyline2D(
      tbl(s, dir, "lineitem").groupBy(col("l_partkey").as("part_id"))
        .agg(sum(col("l_quantity")).cast("long").as("tot_qty"),
          min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("min_price_cents")),
      "tot_qty", "min_price_cents")

  /** Fulfillment-interval congestion: overlapping [o_orderdate,
    * l_shipdate] interval pairs per (part, supplier) — duplicate-safe
    * (C − n)/2 ordered-pair counting, no row identity required. */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame =
    graft.ops.RangeJoin.intervalOverlapPairs(
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("o_orderdate"),
          col("l_shipdate")),
      Seq("l_partkey", "l_suppkey"), "o_orderdate", "l_shipdate")

  /** ~50-row probability-proportional-to-size systematic sample of the
    * corpus by document length — deterministic md5-order draw, exact
    * integer boundary arithmetic, banded two-pass cumulative. */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.ppsSystematic(
      tbl(s, dir, "documents").select("doc_id", "n_chars"),
      col("doc_id"), col("n_chars"), n = 50)

  /** Autocorrelation of the event value series per event type at lags
    * 1..6 — exact int64 sufficient statistics per (type, lag), one IEEE
    * tree for r. */
  private def qAcf(s: SparkSession, dir: String): DataFrame =
    Stats.autocorrelation(ev(s, dir), "event_type",
      Seq(col("ts"), col("event_id")),
      expr("CAST(round(value * 100) AS BIGINT)"), maxLag = 6)

  /** Recon report between per-user daily purchase spend and click spend:
    * full-outer key alignment, presence tag, exact cent delta — the one
    * join shape where both sides must co-partition (no broadcast). */
  private def qReconcile(s: SparkSession, dir: String): DataFrame = {
    def daily(t: String) = ev(s, dir).filter(col("event_type") === t)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    Combine.reconcile(daily("purchase"), daily("click"),
      Seq("user_id", "day"), "cents")
  }

  /** Lead-lag cross-correlation: does click spend lead purchase spend
    * hour-over-hour? Exact hourly cent-sum series, lags −6..+6. */
  private def qXcorr(s: SparkSession, dir: String): DataFrame =
    Stats.crossCorrelation(ev(s, dir), "event_type", "ts",
      expr("CAST(round(value * 100) AS BIGINT)"), bucketSeconds = 3600L,
      keyA = "click", keyB = "purchase", maxLag = 6)

  /** Chi-square independence audit: is event type independent of the day
    * of week? Per-cell (o−e)²/e terms off one contingency aggregation. */
  private def qChi2(s: SparkSession, dir: String): DataFrame =
    Stats.chiSquare(ev(s, dir), col("event_type"),
      dayofweek(col("ts")).as("dow"))

  /** Referential-integrity audit across the whole TPC-H-ish schema:
    * orphan / NULL-FK counts for every declared relation. */
  private def qFkAudit(s: SparkSession, dir: String): DataFrame =
    Stats.fkAudit(Seq(
      ("lineitem.l_orderkey", tbl(s, dir, "lineitem"), "l_orderkey",
        "orders", tbl(s, dir, "orders"), "o_orderkey"),
      ("lineitem.l_partkey", tbl(s, dir, "lineitem"), "l_partkey",
        "part", tbl(s, dir, "part"), "p_partkey"),
      ("lineitem.l_suppkey", tbl(s, dir, "lineitem"), "l_suppkey",
        "supplier", tbl(s, dir, "supplier"), "s_suppkey"),
      ("orders.o_custkey", tbl(s, dir, "orders"), "o_custkey",
        "customer", tbl(s, dir, "customer"), "c_custkey"),
      ("customer.c_nationkey", tbl(s, dir, "customer"), "c_nationkey",
        "nation", tbl(s, dir, "nation"), "n_nationkey"),
      ("supplier.s_nationkey", tbl(s, dir, "supplier"), "s_nationkey",
        "nation", tbl(s, dir, "nation"), "n_nationkey"),
      ("nation.n_regionkey", tbl(s, dir, "nation"), "n_regionkey",
        "region", tbl(s, dir, "region"), "r_regionkey")))

  /** 7-day rolling distinct active users per event type — exact, via
    * the day-grain collapse + day-range self-join (never raw events). */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.rollingActive(ev(s, dir), Seq("event_type"), "ts",
      "user_id", windowDays = 7)

  /** Cohort LTV curve: first-seen-day cohorts × age, exact cent revenue
    * with the running cumulative. */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cohortLtv(ev(s, dir), "user_id", "ts",
      expr("CAST(round(value * 100) AS BIGINT)"))

  /** Inter-arrival-time percentiles per event type: exact integral
    * second gaps since the user's previous event, one window pass. */
  private def qIntereventGap(s: SparkSession, dir: String): DataFrame =
    Stats.exactPercentiles(
      graft.ops.Funnel.interEventGaps(ev(s, dir), "user_id",
        Seq("ts", "event_id"), "ts"),
      Seq("event_type"), "gap_s", Seq(0.25, 0.5, 0.75, 0.9))

  /** Revenue contribution: each supplier nation's share of its region's
    * lineitem cents — exact child/parent sums, one divide. */
  private def qShareOfParent(s: SparkSession, dir: String): DataFrame =
    Stats.shareOfParent(
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey")),
      parentKeys = Seq("r_name"), childKeys = Seq("n_name"),
      measure = expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))

  /** View→purchase conversion-time percentiles (first-touch, strict
    * order) over exact integral second lags. */
  private def qConversionLag(s: SparkSession, dir: String): DataFrame =
    Stats.exactPercentiles(
      graft.ops.Funnel.conversionLags(ev(s, dir), "user_id", "ts",
        "event_type", "view", "purchase"),
      Seq(), "lag_s", Seq(0.1, 0.25, 0.5, 0.75, 0.9))

  /** Volume-weighted price quantiles per return flag: the price (cents)
    * at which the q-th shipped UNIT traded — exact permille thresholds,
    * integer arithmetic end to end. */
  private def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    Stats.weightedQuantiles(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
      expr("CAST(l_quantity AS BIGINT)"), Seq(100, 250, 500, 750, 900))

  /** JL sketch of the embeddings: 64 → 16 dims through the md5-parity
    * ±1 matrix, exact int64 output. */
  private def qEmbedProject(s: SparkSession, dir: String): DataFrame =
    graft.sim.Spectral.signedProjection(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", k = 16)

  /** Nearest-centroid confusion matrix over the embeddings table —
    * exact fixed-point centroid dots, resubstitution semantics. */
  private def qCentroidEval(s: SparkSession, dir: String): DataFrame =
    graft.sim.CentroidEval.nearestCentroidConfusion(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", "label")

  /** 64-bucket hashed bag-of-words over the corpus — fixed-dim features
    * with no vocabulary pass (the 100 TB featurizer). */
  /** DSIR importance resampling toward the English slice: hashed
    * bag-of-words log-likelihood ratio (target = lang 'en' docs vs the
    * raw corpus), add-1 smoothing over 256 buckets, top-50 by (r4
    * weight desc, doc_id asc). Two corpus aggregations + a 256-row
    * broadcast + TakeOrdered — the web-crawl skimming recipe at any
    * scale. */
  private def qDsir(s: SparkSession, dir: String): DataFrame =
    graft.text.Dsir.selectTopK(
      tbl(s, dir, "documents").select("doc_id", "lang", "source", "text"),
      "doc_id", "text", isTarget = col("lang") === "en", k = 50)
      .select("doc_id", "lang", "source", "logw")

  private def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    graft.text.FeatureHash.hashedFeatures(tbl(s, dir, "documents"),
      "doc_id", "text", k = 64)

  /** Vocabulary coverage curve at 10/50/100/500-term vocab sizes. */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.vocabCoverage(tbl(s, dir, "documents"), "doc_id",
      "text", Seq(10, 50, 100, 500))

  /** Exact tie-corrected ROC AUC of a stand-in classifier score (first
    * embedding coordinate) against the binary target label < 5, per
    * 4-way fold. All-integer Mann-Whitney numerator — the single divide
    * is bit-identical cross-engine; the oracle replays the rank
    * cumulative with a plain window (it has no scale constraint; the
    * Spark side uses the banded two-pass cumulative). */
  private def qAuc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.binaryAuc(
      tbl(s, dir, "embeddings")
        .withColumn("fold", pmod(col("vec_id"), lit(4L))),
      Seq("fold"), element_at(col("embedding"), 1).cast("double"),
      col("label") < 5, lo = -0.5, hi = 0.5, nbands = 64)

  /** Precision/recall/F1 sweep for the same stand-in scorer over a
    * 5-point threshold grid — exact int64 confusion counts, ratios are
    * single divides (f1 via 2tp/(2tp+fp+fn), never 2pr/(p+r)). */
  private def qPrCurve(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.prAtThresholds(
      tbl(s, dir, "embeddings")
        .withColumn("fold", pmod(col("vec_id"), lit(2L))),
      Seq("fold"), element_at(col("embedding"), 1).cast("double"),
      col("label") < 5, Seq(-0.3, -0.1, 0.0, 0.1, 0.3))

  /** Exact fixed-point Gram matrix of the embedding corpus (upper
    * triangle, 12-bit quantization): the moment step of PCA as one
    * aggregate, bit-identical cross-engine. */
  private def qEmbedGram(s: SparkSession, dir: String): DataFrame =
    graft.sim.Spectral.gramFixedPoint(tbl(s, dir, "embeddings"),
      "embedding")

  /** Distribution matching: down-sample the whole corpus so its n_chars
    * histogram (12 bins over [0, 600)) matches the ENGLISH subcorpus's
    * length profile — balanceBy's continuous sibling with data-derived
    * targets. Deterministic md5-threshold membership. */
  private def qMatchDist(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    graft.ops.Curate.matchDistribution(d, "n_chars",
        d.filter(col("lang") === "en"), "n_chars", col("doc_id"),
        lo = 0.0, hi = 600.0, nbins = 12)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Fellegi-Sunter linkage scoring between the even- and odd-key
    * customer snapshots: blocked on nation, compared on market segment +
    * acctbal bucket with data-derived u-probabilities — agreement on the
    * rarer field weighs more. Raw score is a fixed-order 2-term ln sum. */
  private def qLinkage(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
      .withColumn("bal_bucket",
        floor(col("c_acctbal") / lit(2000.0)).cast("long"))
    val a = c.filter(pmod(col("c_custkey"), lit(2L)) === 0L)
      .withColumnRenamed("c_custkey", "id_a")
    val b = c.filter(pmod(col("c_custkey"), lit(2L)) === 1L)
      .withColumnRenamed("c_custkey", "id_b")
    graft.ops.Linkage.scorePairs(a, b, "id_a", "id_b",
      blocks = Seq("c_nationkey"),
      fields = Seq("c_mktsegment", "bal_bucket"))
  }

  /** Kaplan-Meier survival of session durations (minutes) per user-parity
    * cohort, right-censored at the observation horizon: a session whose
    * 30-min gap window is still open at the corpus max timestamp has not
    * "ended" — it counts as at-risk, never as an event. */
  private def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.byGap(ev(s, dir), "user_id", "ts", "value",
      gapMinutes = 30, tiebreak = "event_id")
    val horizon = ev(s, dir).agg(max(unix_micros(col("ts"))).as("__hz"))
    val durs = sess.crossJoin(broadcast(horizon))
      .withColumn("cohort", pmod(col("user_id"), lit(2L)))
      .withColumn("dur_min",
        expr("(unix_micros(session_end) - unix_micros(session_start)) " +
          "DIV 60000000"))
      .withColumn("obs",
        unix_micros(col("session_end")) + lit(1800000000L) <= col("__hz"))
    graft.ops.Survival.kaplanMeier(durs, Seq("cohort"), "dur_min",
      col("obs"))
  }

  /** Calibration bins for the stand-in scorer: 10 bands over [−0.5, 0.5],
    * positive rate vs mean score per band (exactAvg discipline). */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.calibrationBins(
      tbl(s, dir, "embeddings")
        .withColumn("fold", pmod(col("vec_id"), lit(2L))),
      Seq("fold"), element_at(col("embedding"), 1).cast("double"),
      col("label") < 5, lo = -0.5, hi = 0.5, nbins = 10)

  /** Zipf tail exponent (Hill, top-20 ranks — the synthetic corpus
    * draws from a ~31-word list) of the documents token distribution +
    * top-1 token share. */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.zipfTail(tbl(s, dir, "documents"), "doc_id", "text",
      k = 20)

  /** Mutual information lang × source per doc_id-parity split — the
    * label/metadata dependence audit (near-zero MI expected on the
    * synthetic corpus). Entropy-form ln-sums over the tiny pair key
    * space, r6 like q_entropy. */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.mutualInfo(
      tbl(s, dir, "documents")
        .withColumn("split", pmod(col("doc_id"), lit(2L))),
      Seq("split"), "lang", "source")

  /** Cohen's kappa between two length-class labeling heuristics
    * (char-count vs whitespace-token-count thresholds) per doc-parity
    * split — all-integer chance correction, one exact divide. */
  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .withColumn("split", pmod(col("doc_id"), lit(2L)))
      .withColumn("rater_chars",
        when(col("n_chars") < 150L, "short")
          .when(col("n_chars") < 350L, "mid").otherwise("long"))
      .withColumn("rater_tokens",
        when(size(split(col("text"), " ")) < 30, "short")
          .when(size(split(col("text"), " ")) < 70, "mid")
          .otherwise("long"))
    graft.ops.Eval.cohensKappa(d, Seq("split"), "rater_chars",
      "rater_tokens")
  }

  /** Bradley-Terry brand strengths from per-order "preference votes":
    * in each order the brand with the most lineitems beats the brand
    * with the fewest (count-then-brand lexicographic key, encoded as a
    * zero-padded sortable string so both engines cut identical
    * winners; single-brand orders abstain). 3 fixed-point MM rounds —
    * every intermediate an exact long, the oracle unrolls the rounds
    * as chained CTEs. */
  private def qPreference(s: SparkSession, dir: String): DataFrame = {
    val key = concat(lpad(col("n").cast("string"), 10, "0"), lit("|"),
      col("p_brand"))
    val votes = tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_brand"))
      .agg(count(lit(1)).as("n"))
      .groupBy("l_orderkey")
      .agg(max(key).as("wk"), min(key).as("lk"))
      .filter(col("wk") =!= col("lk"))
      .select(substring_index(col("wk"), "|", -1).as("winner"),
        substring_index(col("lk"), "|", -1).as("loser"))
    graft.ops.Preference.bradleyTerry(votes, "winner", "loser", iters = 3)
  }

  /** Two-proportion z-test per market segment: does the odd-custkey
    * "variant" arm convert (acctbal > 5000) at a different rate than
    * the even-custkey arm? Exact int64 counts; the z expression is one
    * fixed IEEE tree over them — no rounding anywhere. */
  private def qAbTest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.twoProportionZ(tbl(s, dir, "customer"),
      Seq("c_mktsegment"), pmod(col("c_custkey"), lit(2L)) === 1L,
      col("c_acctbal") > 5000.0)

  /** Wilson 95% bounds on the high-balance proportion per market
    * segment × nation — the small-segment-safe ranking interval. */
  private def qWilson(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.proportionWilson(tbl(s, dir, "customer"),
      Seq("c_mktsegment", "c_nationkey"), col("c_acctbal") > 5000.0)

  /** Association rules over the per-order brand baskets: support /
    * directional confidence / lift for every brand pair co-purchased
    * in ≥ 10 orders — every metric a single divide of exact counts off
    * one capped-collect pass. */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.associationRules(
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey")),
      group = "l_orderkey", item = "p_brand", minCount = 10L)

  /** Quantile-normalize non-English docs' n_chars onto the English
    * length distribution: rank by (n_chars, doc_id), map rank r to the
    * reference value at ⌈r·n_ref/n⌉ — all-integer rank arithmetic,
    * banded two-pass rankings on both sides. */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    graft.ops.Curate.quantileNormalize(
        d.filter(col("lang") =!= "en").select("doc_id", "lang", "n_chars"),
        "n_chars", "doc_id",
        d.filter(col("lang") === "en"), "n_chars",
        lo = 0.0, hi = 600.0, nbands = 16, out = "n_chars_norm")
      .select("doc_id", "lang", "n_chars", "n_chars_norm")
  }

  /** Key-skew audit of the lineitem partkey distribution per return
    * flag — exact per-key-count percentiles, top-1 share, and the Gini
    * coefficient via the banded two-pass sorted rank (Σ i·c and every
    * cut exact int64; three single IEEE divides). */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.keySkew(tbl(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_partkey")

  /** Classical seasonal decomposition of the event value series per
    * type, period 24: centered one-cycle MA trend (half-weight ends),
    * per-position seasonal means centered across the cycle, residual =
    * the de-seasonalized anomaly signal. All cross-row means r6-rounded
    * before their divide. */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Indicators.seasonalDecompose(ev(s, dir), "event_type",
        evOrder, "value", period = 24)
      .select(col("event_id"), col("event_type"), col("value"),
        col("period_pos"), col("trend"), col("seasonal"), col("residual"))

  /** NDCG@10 of the stand-in scorer (first embedding coordinate)
    * against binary relevance label < 5, per 4-way fold — r6 on the
    * dcg/idcg cross-term sums, final divide on the rounded pair. */
  private def qNdcg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.ndcgAtK(
      tbl(s, dir, "embeddings")
        .withColumn("fold", pmod(col("vec_id"), lit(4L))),
      Seq("fold"), element_at(col("embedding"), 1).cast("double"),
      when(col("label") < 5, 1L).otherwise(0L), col("vec_id"), k = 10)

  /** 4 deterministic contrastive negatives per document (multiplicative
    * draw over the md5 global-shuffle permutation — no RNG state). */
  private def qContrastive(s: SparkSession, dir: String): DataFrame =
    Curate.negativePairs(tbl(s, dir, "documents"), "doc_id", k = 4)

  /** BM25 top-50 retrieval for a fixed 3-term query over documents (k1 =
    * 1.2, b = 0.75). The oracle replays the identical IEEE expression
    * tree; only the per-doc cross-term sum is r6-rounded. */
  private def qTextBm25(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.bm25Retrieve(tbl(s, dir, "documents"), "doc_id",
      "text", Seq("spark", "join", "window"), k = 50)

  /** Two-stage retrieval: BM25 top-20 recall, then exact fixed-point
    * TF-IDF cosine rerank against the query vector — the cosine only
    * ever touches the 20-doc shortlist. Ordered by (cosine desc, id):
    * dot/norms are exact ints, so the raw-double cosine is a portable
    * sort key. */
  private def qRetrieveRerank(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val q = Seq("spark", "join", "window")
    val cand = graft.text.TfIdf.bm25Retrieve(docs, "doc_id", "text", q,
      k = 20)
    graft.text.TfIdf.rerankByCosine(docs, "doc_id", "text", cand, q)
      .withColumn("rerank_cosine", r6(col("rerank_cosine")))
      .orderBy(col("rerank_cosine").desc_nulls_last, col("doc_id"))
      .select("doc_id", "bm25_r6", "n_matched", "rerank_cosine")
  }

  // ---------------------------------------------------- text analysis ops

  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(
      TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"), "text",
        TextAnalysis.defaultStopwords))
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        r6(col("avg_token_len")).as("avg_token_len"),
        r6(col("punct_ratio")).as("punct_ratio"),
        r6(col("space_ratio")).as("space_ratio"),
        r6(col("alpha_ratio")).as("alpha_ratio"),
        r6(col("stopword_ratio")).as("stopword_ratio"),
        col("quality_score"))

  private def qTextLangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLanguageId(tbl(s, dir, "documents"), "text")
      .select(col("doc_id"), col("lang"), col("score_en"), col("score_es"),
        col("score_fr"), col("score_de"), col("score_zh"), col("lang_pred"))

  private def qTextTokens(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))

  private def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withFingerprints(tbl(s, dir, "documents"), "text")
      .select("doc_id", "fp_md5", "fp_prefix")

  /** Gopher-style repetition ratios (dup-word / top-word / dup-bigram) —
    * the repetition-based quality filters, per document. */
  private def qTextRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withRepetitionFeatures(tbl(s, dir, "documents"), "text")
      .select(col("doc_id"), col("n_tokens_r"), col("dup_word_ratio"),
        col("top_word_ratio"), col("dup_bigram_ratio"))

  /** Benchmark decontamination: docs with doc_id % 20 == 0 play the held-out
    * eval set; every other doc reports its distinct-overlapping-3-gram count
    * and a 0/1 flag. n=3 rather than the production 8-gram default because
    * the synthetic word-soup vocabulary (~30 words) makes 8-gram collisions
    * vanishingly rare — 3-grams exercise a realistic hit distribution. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.text.Decontaminate.flagContamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", n = 3)
      .select("doc_id", "n_contaminated_grams", "contaminated")
  }

  /** FUZZY decontamination ([[graft.text.Decontaminate
    * .fuzzyContamination]]): verified (corpus doc, eval doc)
    * near-duplicate pairs at 3-gram Jaccard >= 0.7 — the paraphrased-
    * leakage guard the exact-gram q_decontaminate misses. Same eval
    * split (doc_id % 20 == 0 plays the benchmark); MinHash-banded with
    * the eval set as the query batch (candidates are corpus x eval
    * collisions only), 32 bands of 2 rows so the verified output IS
    * the exact cross pair set (miss < 1e-9 at 0.7 — the
    * q_dedup_minhash_verified recall contract) and the DuckDB oracle
    * recomputes it as an exact cross Jaccard. */
  private def qDecontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.text.Decontaminate.fuzzyContamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", n = 3, minJaccard = 0.7, numPerm = 64,
        bands = 32)
      .withColumn("jaccard", r6(col("jaccard")))
  }

  /** Per-source document cap (max 15, best-first by chars desc): the
    * at-most-N-docs-per-domain curation rule. */
  private def qSourceCap(s: SparkSession, dir: String): DataFrame =
    Curate.capPerGroup(tbl(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id")), n = 15)
      .select("doc_id", "source", "n_chars", "rank_in_group")

  /** Deterministic epoch shuffle with contiguous 1-based positions — the
    * two-pass bucketed global sort index (no single-partition window). */
  private def qShuffleDet(s: SparkSession, dir: String): DataFrame =
    Curate.globalSortIndex(tbl(s, dir, "documents"), col("doc_id"),
        seed = "epoch1")
      .select("doc_id", "shuffle_pos")

  /** Top-5 salient terms per doc by tf-idf, ranked on the ROUNDED score
    * (raw-double ordering can flip at 1 ulp across engines). */
  private def qTextTfidf(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTerms(tbl(s, dir, "documents"), "doc_id", "text",
      k = 5)

  /** Top-200 corpus vocabulary by total term count — tokenizer/vocab
    * construction. */
  private def qTextVocab(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.vocabulary(tbl(s, dir, "documents"), "doc_id", "text",
      topN = Some(200))

  /** Sparse TF-IDF top-3 neighbors per document via the inverted-index
    * join — fixed-point int64 weights make every dot/norm an exact integer
    * sum, so the cosine (and therefore the ranking) is bit-identical
    * across engines and the whole retrieval output hash-compares. */
  private def qTextTfidfSim(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.docSimilarity(tbl(s, dir, "documents"), "doc_id",
        "text", k = 3)
      .withColumn("cosine_sim", r6(col("cosine_sim")))

  /** Character-level near-dup: Levenshtein <= 10 within the ASCII English
    * block (DuckDB's levenshtein is byte-based, Spark's codepoint-based —
    * identical on ASCII, so the oracle scope is lang='en', which this
    * corpus keeps pure-ASCII; multibyte langs remain covered engine-side). */
  private def qDedupEditdist(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.editDistancePairs(
      tbl(s, dir, "documents").filter(col("lang") === "en"),
      "doc_id", "text", "lang", maxDist = 10)

  /** End-to-end curation pipeline (quality gate -> exact dedup -> near-dup
    * dedup -> corpus accounting) as ONE composed plan, oracle-checked
    * through every stage: the DuckDB twin recomputes the quality score,
    * the md5 min-id exact dedup, the full jaccard pair derivation, and the
    * recursive components, then must agree on the per-(lang, source)
    * survivor counts, token totals, and quality mass. */
  private def qDocsPipeline(s: SparkSession, dir: String): DataFrame =
    Pipelines.curateDocuments(tbl(s, dir, "documents"),
        docPairs01(s, dir).filter(col("jaccard") >= 0.5)
          .select("id1", "id2"),
        minQuality = 0.5, minTokens = 10)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("total_tokens"),
        r6(sum(col("quality_score"))).as("sum_quality"))

  // ------------------------------------------------- similarity search ops

  private def qSimBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bruteForceTopK(queries, emb, "q_id", "vec_id", "q_vec",
        "embedding", k = 5)
      .withColumn("cosine_sim", r6(col("cosine_sim")))
  }

  private def qSimBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.blockedNearDupPairs(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", block = "label", minCosine = 0.2)
      .withColumn("cosine_sim", r6(col("cosine_sim")))

  /** IVF recall invariant: probing 8 of 16 cells must recover at least half
    * of the exact brute-force top-5 (the brute-force side is independently
    * oracle-checked in q_sim_bruteforce). Emits oracle-comparable columns
    * only: the query count, k, and the recall-floor flag. */
  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ivf = Similarity.ivfTopK(queries, emb, "q_id", "vec_id", "q_vec",
        "embedding", k = 5, nlist = 16, nProbe = 8)
      .select("query_id", "neighbor_id")
    val bf = Similarity.bruteForceTopK(queries, emb, "q_id", "vec_id",
        "q_vec", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val recalled = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
    bf.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("__n_bf"))
      .crossJoin(recalled.agg(count(lit(1)).as("__n_hit")))
      .select(col("n_queries"), lit(5).as("k"),
        (col("__n_hit").cast("double") / col("__n_bf") >= 0.5)
          .as("recall_ge_half"))
  }

  /** CDC-maintained IVF ANN index under oracle check: the corpus tail
    * (vec_id >= 10) builds the PERSISTED index (frozen centroids, cell-
    * partitioned versioned table); the head lands as a second commit and
    * an INCREMENTAL refresh assigns only the feed (guard pins feed-sized
    * work); the oracled output probes the index at nProbe = nlist, where
    * the answer EQUALS exact brute-force top-k — so the whole persisted
    * path (build, erase, reassign, partition-pruned probe, rank merge)
    * is hash-checked end to end against DuckDB's exact query. */
  private def qSimIndex(s: SparkSession, dir: String): DataFrame = {
    val stage = "/tmp/graft_sim_index/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (src, idx) = (s"$stage/src", s"$stage/idx")
    val emb = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(8)).cast("int").as("grp"))
    fixture {
      rmrf(s, stage)
      VersionedTable.upsert(s, src, emb.filter(col("vec_id") >= 10),
        Seq("vec_id", "grp"), Seq("grp"))
      graft.sim.AnnIndex.create(s, idx, src, "vec_id", "embedding",
        nlist = 16, kmeansIters = 0)
      VersionedTable.upsert(s, src, emb.filter(col("vec_id") < 10),
        Seq("vec_id", "grp"), Seq("grp"))
    }
    graft.sim.AnnIndex.refresh(s, idx)
    require(!graft.sim.AnnIndex.lastRefreshRebuild &&
      graft.sim.AnnIndex.lastRefreshVectors == 10,
      s"ANN refresh was not incremental: rebuild=" +
        s"${graft.sim.AnnIndex.lastRefreshRebuild} vectors=" +
        s"${graft.sim.AnnIndex.lastRefreshVectors}")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.sim.AnnIndex.topK(s, idx, queries, "q_id", "q_vec", k = 5,
        nProbe = 16)
      .withColumn("cosine_sim", r6(col("cosine_sim")))
  }

  /** Quantized ANN index storage: the same CDC-maintained IVF index
    * with int8 codes + per-row scale in the index table (~4× smaller
    * rows — the 100 TB storage lever) and float re-rank on the
    * shortlist (true vectors read from the SOURCE pinned at the synced
    * version, id-IN-probed). Invariants, all in-query: (1) recall vs
    * the float index ≥ 0.8 at the same nProbe (measured ~1.0 — the
    * int8 shortlist at refine=4k rarely drops a true top-5); (2) every
    * pair BOTH indexes return carries the IDENTICAL float-exact cosine
    * (the re-rank serves true similarities, never dequantized ones);
    * (3) the quantized index's manifest byte total is under HALF the
    * float index's. The incremental-refresh leg re-asserts feed-sized
    * maintenance in quantized mode. */
  private def qSimIndexQ(s: SparkSession, dir: String): DataFrame = {
    val stage = "/tmp/graft_sim_index_q/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (src, idxQ) = (s"$stage/src", s"$stage/idxq")
    val emb = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(8)).cast("int").as("grp"))
    fixture {
      rmrf(s, stage)
      VersionedTable.upsert(s, src, emb.filter(col("vec_id") >= 10),
        Seq("vec_id", "grp"), Seq("grp"))
      graft.sim.AnnIndex.create(s, idxQ, src, "vec_id", "embedding",
        nlist = 16, kmeansIters = 0, quantized = true)
      VersionedTable.upsert(s, src, emb.filter(col("vec_id") < 10),
        Seq("vec_id", "grp"), Seq("grp"))
    }
    graft.sim.AnnIndex.refresh(s, idxQ)
    require(!graft.sim.AnnIndex.lastRefreshRebuild &&
      graft.sim.AnnIndex.lastRefreshVectors == 10,
      "quantized ANN refresh was not incremental")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // GROUND TRUTH side: exact brute-force cosine top-5 over the same
    // corpus — a stronger recall/sims reference than a float twin
    // index, whose build/refresh no longer ride this query's fixture
    // (the float index lifecycle is q_sim_index's claim; round-10 cut)
    val fTop = Similarity.bruteForceTopK(queries, emb, "q_id", "vec_id",
      "q_vec", "embedding", k = 5).select(col("query_id"),
      col("neighbor_id"), col("cosine_sim").as("__fs"))
    val qTop = graft.sim.AnnIndex.topK(s, idxQ, queries, "q_id", "q_vec",
      k = 5, nProbe = 16).select(col("query_id"), col("neighbor_id"),
      col("cosine_sim").as("__qs"))
    val both = fTop.join(qTop, Seq("query_id", "neighbor_id"))
    // manifest-served byte totals (zero Spark jobs); identical to
    // partitionsMeta(...).agg(sum(bytes)) — same dirBytes source — with
    // that aggregate kept as the fallback for dirs lacking recorded sizes
    def bytesOf(root: String): Long =
      VersionedTable.recordedBytes(s, root).map(_.toLong).getOrElse(
        VersionedTable.partitionsMeta(s, root)
          .agg(sum(col("bytes"))).first.getLong(0))
    // int8 codes + per-row scale vs the float-array SOURCE table the
    // index embeds: strictly smaller at ANY scale (at the 500-vector
    // verify scales per-file parquet overhead dominates both sides, so
    // the 2.3-2.7x magnitude separation is the scale probe's claim —
    // AnnIndexScaleProbe / BASELINE.md round 9 — and this guard pins
    // the direction)
    val bytesOk = bytesOf(idxQ) < bytesOf(src)
    require(bytesOk, s"quantized index not smaller: ${bytesOf(idxQ)} " +
      s"vs source ${bytesOf(src)} bytes")
    fTop.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("__n_f"))
      .crossJoin(both.agg(count(lit(1)).as("__n_hit"),
        max(abs(col("__fs") - col("__qs"))).as("__maxerr")))
      .select(col("n_queries"), lit(5).as("k"),
        (col("__n_hit").cast("double") / col("__n_f") >= 0.8)
          .as("recall_ge_08"),
        (col("__maxerr") === 0.0).as("sims_exact"),
        lit(bytesOk).as("bytes_smaller"))
  }

  /** IVF with nProbe = nlist probes every cell — the search space is the
    * whole corpus, so the output EQUALS brute-force top-k exactly and the
    * full IVF machinery (assignment, cell join, rank merge) is
    * oracle-checked end to end. Production sets nProbe < nlist; this query
    * pins the correctness of everything but that approximation. */
  private def qSimIvfFull(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.ivfTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding",
        k = 5, nlist = 16, nProbe = 16)
      .withColumn("cosine_sim", r6(col("cosine_sim")))
  }

  /** Int8 quantization exploded to scalar rows — deterministic across
    * engines (float max|x|, double floor(x/scale + 0.5); see Quantize
    * scaladoc), so the full quantized corpus hash-compares with DuckDB. */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Quantize.quantizeInt8(tbl(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"),
        posexplode(col("q_vec")).as(Seq("pos", "qval")))
      .select(col("vec_id"), col("pos").cast("int").as("pos"), col("qval"))

  /** Quantization recall invariant: int8 top-5 must recover >= 80% of the
    * exact brute-force top-5 (the exact side is oracle-checked in
    * q_sim_bruteforce; measured overlap at sf0.01/sf0.1 is ~96%). Emits
    * oracle-comparable columns only. */
  private def qSimQuantized(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val qt = Quantize.quantizedTopK(queries, emb, "q_id", "vec_id",
        "q_vec", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val bf = Similarity.bruteForceTopK(queries, emb, "q_id", "vec_id",
        "q_vec", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val recalled = bf.join(qt, Seq("query_id", "neighbor_id"), "left_semi")
    bf.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("__n_bf"))
      .crossJoin(recalled.agg(count(lit(1)).as("__n_hit")))
      .select(col("n_queries"), lit(5).as("k"),
        (col("__n_hit").cast("double") / col("__n_bf") >= 0.8)
          .as("recall_ge_08"))
  }

  /** Multi-table SRP-LSH recall invariant on the vec_id < 500 subset: 24
    * tables of 8 bits must recover >= 10% of the exact cosine >= 0.2 pairs
    * (expected ~22% for this corpus's angle distribution; the floor holds
    * 2x margin). Emits the oracle-checkable exact-pair count plus the
    * floor flag; the recalled pair set itself depends on the seeded
    * hyperplanes and stays engine-specific. */
  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 500)
    val lsh = Similarity.lshNearDupPairsMulti(emb, "vec_id", "embedding",
        dim = 64, minCosine = 0.2, nbits = 8, nTables = 24)
      .select("id1", "id2")
    val exact = Similarity.blockedNearDupPairs(
        emb.withColumn("__b", lit(1)), "vec_id", "embedding", "__b",
        minCosine = 0.2)
      .select("id1", "id2")
    val recalled = exact.join(lsh, Seq("id1", "id2"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(recalled.agg(count(lit(1)).as("__n_hit")))
      .select(col("n_exact_pairs"),
        (col("__n_hit").cast("double") / col("n_exact_pairs") >= 0.1)
          .as("recall_floor_met"))
  }

  /** Incremental distinct maintenance: per-day HLL sketches of user_id
    * stored as 4 KiB binary columns, then UNIONED — no raw-data rescan —
    * into a corpus-wide estimate, checked against the exact distinct at an
    * 8% bound (~5 sigma for lgConfigK=12's ~1.6% rse: a false flag means a
    * broken sketch, not bad luck — same contract as q_approx_distinct). */
  private def qHllIncremental(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.ops.Dedup.hllSketches(
      ev(s, dir).withColumn("date", to_date(col("ts"))), Seq("date"),
      "user_id")
    val merged = graft.ops.Dedup.hllMergedDistinct(daily)
    ev(s, dir)
      .agg(countDistinct(col("user_id")).as("n_exact"),
        count(lit(1)).as("n_rows"))
      .crossJoin(merged.select(col("n_distinct_est")))
      .select(col("n_rows"), col("n_exact"),
        (abs(col("n_distinct_est") - col("n_exact"))
          <= lit(0.08) * col("n_exact")).as("est_ok"))
  }

  /** Incremental quantile maintenance: per-day KLL sketches over event
    * values, merged to answer corpus quantiles with NO raw rescan —
    * checked against the exact percentiles with a ±5%-rank bracket
    * (3× the k=200 sketch's normalized rank error, merge-preserved). */
  private def qKllIncremental(s: SparkSession, dir: String): DataFrame = {
    val ranks = Seq(0.25, 0.5, 0.75, 0.95)
    val daily = graft.ops.Frequency.kllSketches(
      ev(s, dir).withColumn("date", to_date(col("ts"))), Seq("date"),
      "value")
    val est = graft.ops.Frequency.kllMergedQuantiles(daily, ranks)
    def pct(qs: Seq[Double]): Column =
      expr(s"percentile(value, array(${qs.map(q => s"${q}D").mkString(",")}))")
    val exact = ev(s, dir).agg(
      pct(ranks).as("__ex"),
      pct(ranks.map(q => math.max(0.0, q - 0.05))).as("__lo"),
      pct(ranks.map(q => math.min(1.0, q + 0.05))).as("__hi"))
    est.crossJoin(broadcast(exact))
      .withColumn("__i", array_position(typedlit(ranks), col("q")).cast("int"))
      // value_est itself is implementation detail (sketch bytes) — the
      // oracled surface is the exact side plus the bracket health flag
      .select(col("q"),
        round(element_at(col("__ex"), col("__i")), 6).as("value_exact"),
        col("n_rows"),
        (col("value_est") >= element_at(col("__lo"), col("__i")) &&
          col("value_est") <= element_at(col("__hi"), col("__i")))
          .as("est_ok"))
  }

  /** Incremental frequency maintenance: per-day count-min sketches over
    * event types, merged and point-queried with no raw rescan. CMS never
    * undercounts; the overcount flag bounds it by eps·N (eps = 0.001,
    * deterministic for the fixed seed). */
  private def qCmsIncremental(s: SparkSession, dir: String): DataFrame = {
    val items = Seq("click", "error", "purchase", "signup", "view")
    val daily = graft.ops.Frequency.cmsSketches(
      ev(s, dir).withColumn("date", to_date(col("ts"))), Seq("date"),
      "event_type")
    val est = graft.ops.Frequency.cmsMergedCounts(daily, items)
    val exact = ev(s, dir).groupBy(col("event_type").as("item"))
      .agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("item"), "left")
      .na.fill(0L, Seq("n_exact"))
      .select(col("item"), col("n_exact"), col("n_rows"),
        (col("count_est") >= col("n_exact") &&
          col("count_est") <= col("n_exact")
            + ceil(lit(0.001) * col("n_rows")).cast("long")).as("est_ok"))
  }

  /** Ordered conversion funnel over the natural view -> click -> purchase
    * stage sequence in the events stream (first-touch, strictly-after
    * gating). */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.funnelCounts(ev(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Cohort retention: first-seen-date cohorts x active-day offsets. */
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.retentionCohorts(ev(s, dir), "user_id", "ts")

  /** Theta-sketch set algebra between the distinct-user sets of the
    * lexicographic min and max event types: |A|, |B|, |A∩B|, |A\B| answered
    * from two stored sketches, checked against the exact sides. At
    * cardinalities ≤ 2^lgK theta sketches retain every hash (exact mode),
    * so the health flags are deterministic, not probabilistic. */
  private def qThetaAlgebra(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    // lgK=14 keeps the sketches in exact mode (retain-every-hash) through
    // ~16k distinct users — an order of magnitude past sf0.1's 1.5k — so
    // the flags stay deterministic at any SF this environment can grade;
    // beyond exact mode they degrade to ~3-sigma probabilistic bounds.
    val paired = graft.ops.Dedup
      .thetaSketches(e, Seq("event_type"), "user_id", lgK = 14)
      .agg(
        min_by(struct(col("event_type"), col("theta_sketch")),
          col("event_type")).as("a"),
        max_by(struct(col("event_type"), col("theta_sketch")),
          col("event_type")).as("b"))
    val ests = graft.ops.Dedup
      .thetaAlgebra(paired, col("a.theta_sketch"), col("b.theta_sketch"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("n_union_est"), col("n_inter_est"), col("n_diff_est"))
    val tt = e.agg(min(col("event_type")).as("__ta"),
      max(col("event_type")).as("__tb"))
    val users = e.select("event_type", "user_id").distinct()
    val au = users.join(broadcast(tt), col("event_type") === col("__ta"))
      .select("user_id")
    val bu = users.join(broadcast(tt), col("event_type") === col("__tb"))
      .select("user_id")
    val exact = au.agg(count(lit(1)).as("n_a_exact"))
      .crossJoin(bu.agg(count(lit(1)).as("n_b_exact")))
      .crossJoin(au.intersect(bu).agg(count(lit(1)).as("n_inter_exact")))
    exact.crossJoin(ests)
      .select(col("type_a"), col("type_b"),
        col("n_a_exact"), col("n_b_exact"), col("n_inter_exact"),
        (col("n_a_exact") + col("n_b_exact") - col("n_inter_exact"))
          .as("n_union_exact"),
        (abs(col("n_union_est")
          - (col("n_a_exact") + col("n_b_exact") - col("n_inter_exact")))
          <= lit(0.05) * (col("n_a_exact") + col("n_b_exact")
            - col("n_inter_exact"))).as("union_ok"),
        (abs(col("n_inter_est") - col("n_inter_exact"))
          <= lit(0.10) * col("n_a_exact")).as("inter_ok"),
        (abs(col("n_diff_est") - (col("n_a_exact") - col("n_inter_exact")))
          <= lit(0.10) * col("n_a_exact")).as("diff_ok"))
  }

  /** SemDeDup-style semantic dedup over the embeddings corpus: sign-cell
    * bucketing (4 bits -> 16 cells), within-cell cosine clusters, keep the
    * min-id representative. Threshold 0.42 sits just under the synthetic
    * corpus's within-cell cosine ceiling (max ~0.48-0.55 across SFs) so a
    * handful of clusters actually collapse; real embedding models cluster
    * much tighter and would run ~0.95. Fully oracled: the sign cells, the
    * cosine tree, and the component keep-rule all replay in SQL. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.sim.SemDedup.semanticDedup(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.42, signBits = 4)
      .select("vec_id", "label")

  // ------------------------------------------------------- multimodal ops

  private def assets(s: SparkSession, dir: String): DataFrame =
    Multimodal.asAssets(tbl(s, dir, "documents"), "doc_id", "text", "source",
      "text")

  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    assets(s, dir).select(col("asset_id"), col("modality"),
      col("meta.n_bytes").as("n_bytes"),
      col("meta.content_md5").as("content_md5"))

  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAssets(assets(s, dir))

  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(assets(s, dir), nFrames = 4)

  /** Resize stage roundtrip: strided payload + refreshed metadata, oracled
    * byte-for-byte (ASCII corpus -> DuckDB can rebuild the strided string
    * and hash it). */
  private def qMultimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeStub(assets(s, dir), stride = 4)
      .select(col("asset_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.content_md5").as("content_md5"))

  /** Multimodal -> embedding -> ANN composition: stub-featurize the binary
    * assets, then find near-duplicate assets by cosine over the extracted
    * features. Fully oracled: the stub featurizer is an integer byte
    * histogram the oracle replays in SQL, and integer counts make the
    * cosines bit-identical across engines. */
  private def qMultimodalAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.blockedNearDupPairs(
      // materialize the featurizer output once: the self-join would
      // otherwise run the (deliberately expensive) codec per side. The
      // checkpointed blocks live until session end -- bounded at
      // corpus_rows x (dim+1) x 8B, trivial for any realistic corpus
      Multimodal.extractFeatures(assets(s, dir), dim = 16)
        .withColumn("block", col("asset_id") % 10)
        .localCheckpoint(),
      "asset_id", "features", block = "block", minCosine = 0.99)

  /** Multimodal NEAR-DUP dedup — the perceptual-hash shape over the stub
    * codec's byte-histogram features: featurize at dim=256 (per-byte-value
    * counts), MEAN-CENTER (the average-hash idea: sign of deviation from
    * the mean is the perceptual bit), then [[graft.sim.SemDedup
    * .semanticDedup]] — sign cells from 16 centered dims anchored at byte
    * 'a' (the informative window for text payloads; bytes 0..31 are
    * identically zero and carry no sign), within-cell cosine >= 0.995,
    * keep the min-id representative. Exactness: counts are integers and
    * the mean divisor 256 is a power of two, so every centered value,
    * dot, and norm is an exact binary rational — cosines are
    * bit-identical across engines and the oracle replays featurize ->
    * center -> cells -> pairs -> components in SQL (the q_semantic_dedup
    * shape, with a sparse-dot identity: dot(A-ā, B-b̄) = S_AB -
    * totA·totB/256). */
  private def qMultimodalDedup(s: SparkSession, dir: String): DataFrame = {
    // repartition BEFORE the featurize: the corpus arrives as one
    // parquet split, and the codec (the deliberately expensive stage)
    // would otherwise run on a single task — as would the downstream
    // within-cell quadratic, whatever the cluster size
    val feats = Multimodal.perceptualFeatures(
        assets(s, dir).repartition(s.sparkContext.defaultParallelism),
        dim = 256)
      // the (deliberately batch-shaped) codec runs once, not once per
      // self-join side; bounded at corpus_rows x 256 doubles
      .localCheckpoint()
    graft.sim.SemDedup.semanticDedup(feats, "asset_id", "centered",
        minCosine = 0.995, signBits = 24, signOffset = 97)
      .select("asset_id")
  }

  // ================================================================ entry

  /** Flagship query on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    qAggOhlcWindow(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_parquet" -> (qScanParquet _),
    "q_scan_csv" -> (qScanCsv _),
    "q_scan_orc" -> (qScanOrc _),
    "q_project_alias" -> (qProjectAlias _),
    "q_project_drop" -> (qProjectDrop _),
    "q_cast" -> (qCast _),
    "q_filter_notnull" -> (qFilterNotNull _),
    "q_filter_range" -> (qFilterRange _),
    "q_project_subset" -> (qProjectSubset _),
    "q_struct_extract" -> (qStructExtract _),
    "q_agg_avg_stddev_sum" -> (qAggAvgStddevSum _),
    "q_agg_ohlc_window" -> (qAggOhlcWindow _),
    "q_agg_daily_ohlcv" -> (qAggDailyOhlcv _),
    "q_count" -> (qCount _),
    "q_quantiles" -> (qQuantiles _),
    "q_dup_check" -> (qDupCheck _),
    "q_distinct_count" -> (qDistinctCount _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_dedup_keep_last" -> (qDedupKeepLast _),
    "q_tpch_q1" -> (qTpchQ1 _),
    "q_tpch_q3" -> (qTpchQ3 _),
    "q_tpch_q5" -> (qTpchQ5 _),
    "q_tpch_q4" -> (qTpchQ4 _),
    "q_tpch_q22" -> (qTpchQ22 _),
    "q_tpch_q13" -> (qTpchQ13 _),
    "q_tpch_q17" -> (qTpchQ17 _),
    "q_tpch_q8" -> (qTpchQ8 _),
    "q_tpch_q14" -> (qTpchQ14 _),
    "q_tpch_q15" -> (qTpchQ15 _),
    "q_tpch_q18" -> (qTpchQ18 _),
    "q_tpch_q19" -> (qTpchQ19 _),
    "q_tpch_q21" -> (qTpchQ21 _),
    "q_tpch_q2" -> (qTpchQ2 _),
    "q_tpch_q6" -> (qTpchQ6 _),
    "q_tpch_q7" -> (qTpchQ7 _),
    "q_tpch_q9" -> (qTpchQ9 _),
    "q_tpch_q10" -> (qTpchQ10 _),
    "q_tpch_q11" -> (qTpchQ11 _),
    "q_tpch_q12" -> (qTpchQ12 _),
    "q_tpch_q16" -> (qTpchQ16 _),
    "q_tpch_q20" -> (qTpchQ20 _),
    "q_set_ops" -> (qSetOps _),
    "q_percentile_exact" -> (qPercentileExact _),
    "q_mode" -> (qMode _),
    "q_histogram" -> (qHistogram _),
    "q_psi" -> (qPsi _),
    "q_jsd" -> (qJsd _),
    "q_ks" -> (qKs _),
    "q_collocations" -> (qCollocations _),
    "q_resample" -> (qResample _),
    "q_interpolate" -> (qInterpolate _),
    "q_map_explode" -> (qMapExplode _),
    "q_window_corr" -> (qWindowCorr _),
    "q_winsorize" -> (qWinsorize _),
    "q_join_salted" -> (qJoinSalted _),
    "q_zorder_nd" -> (qZorderNd _),
    "q_window_lagged" -> (qWindowLagged _),
    "q_window_ranks" -> (qWindowRanks _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_multiway" -> (qJoinMultiway _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_bloom" -> (qJoinBloom _),
    "q_quantiles_bounds" -> (qQuantilesBounds _),
    "q_topk_group" -> (qTopkGroup _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_zorder" -> (qZorder _),
    "q_sample" -> (qSample _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_split" -> (qSplit _),
    "q_mixture" -> (qMixture _),
    "q_balance" -> (qBalance _),
    "q_standardize" -> (qStandardize _),
    "q_ols" -> (qOls _),
    "q_mixture_repeat" -> (qMixtureRepeat _),
    "q_pack" -> (qPack _),
    "q_pack_assemble" -> (qPackAssemble _),
    "q_chunk" -> (qChunk _),
    "q_corpus_diff" -> (qCorpusDiff _),
    "q_split_leakage" -> (qSplitLeakage _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_window_time_range" -> (qWindowTimeRange _),
    "q_quality_deciles" -> (qQualityDeciles _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_index" -> (qDedupIndex _),
    "q_stats_bivariate" -> (qStatsBivariate _),
    "q_outliers" -> (qOutliers _),
    "q_outliers_mad" -> (qOutliersMad _),
    "q_markov" -> (qMarkov _),
    "q_entropy" -> (qEntropy _),
    "q_top_paths" -> (qTopPaths _),
    "q_pagerank" -> (qPagerank _),
    "q_label_prop" -> (qLabelProp _),
    "q_pagerank_weighted" -> (qPagerankWeighted _),
    "q_triangles" -> (qTriangles _),
    "q_lm_score" -> (qLmScore _),
    "q_profile" -> (qProfile _),
    "q_series_corr" -> (qSeriesCorr _),
    "q_scd2" -> (qScd2 _),
    "q_text_tfidf" -> (qTextTfidf _),
    "q_text_vocab" -> (qTextVocab _),
    "q_text_tfidf_sim" -> (qTextTfidfSim _),
    "q_dedup_editdist" -> (qDedupEditdist _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_merge_upsert_pruned" -> (qMergeUpsertPruned _),
    "q_merge_upsert_pruned2" -> (qMergeUpsertPruned2 _),
    "q_merge_versioned" -> (qMergeVersioned _),
    "q_merge_changefeed" -> (qMergeChangefeed _),
    "q_versioned_branch" -> (qVersionedBranch _),
    "q_matview" -> (qMatview _),
    "q_matview_minmax" -> (qMatviewMinmax _),
    "q_matview_avg_distinct" -> (qMatviewAvgDistinct _),
    "q_matview_join" -> (qMatviewJoin _),
    "q_snapshot_sync" -> (qSnapshotSync _),
    "q_multi_txn" -> (qMultiTxn _),
    "q_multi_txn_merge" -> (qMultiTxnMerge _),
    "q_versioned_skip" -> (qVersionedSkip _),
    "q_versioned_bloom" -> (qVersionedBloom _),
    "q_versioned_scan_rule" -> (qVersionedScanRule _),
    "q_versioned_derived" -> (qVersionedDerived _),
    "q_versioned_scan_in" -> (qVersionedScanIn _),
    "q_versioned_scan_part" -> (qVersionedScanPart _),
    "q_versioned_restore" -> (qVersionedRestore _),
    "q_versioned_fastcount" -> (qVersionedFastcount _),
    "q_versioned_sql" -> (qVersionedSql _),
    "q_zorder_box" -> (qZorderBox _),
    "q_zorder_box_nd" -> (qZorderBoxNd _),
    "q_versioned_delete" -> (qVersionedDelete _),
    "q_versioned_dv" -> (qVersionedDv _),
    "q_versioned_dv_in" -> (qVersionedDvIn _),
    "q_versioned_delete_expr" -> (qVersionedDeleteExpr _),
    "q_versioned_sql_dml" -> (qVersionedSqlDml _),
    "q_versioned_sql_merge" -> (qVersionedSqlMerge _),
    "q_catalog_lifecycle" -> (qCatalogLifecycle _),
    "q_catalog_ctas" -> (qCatalogCtas _),
    "q_versioned_overwrite" -> (qVersionedOverwrite _),
    "q_catalog_replace" -> (qCatalogReplace _),
    "q_catalog_constraint" -> (qCatalogConstraint _),
    "q_expectations" -> (qExpectations _),
    "q_catalog_view" -> (qCatalogView _),
    "q_insert_evolution" -> (qInsertEvolution _),
    "q_column_default" -> (qColumnDefault _),
    "q_create_transform" -> (qCreateTransform _),
    "q_catalog_stream" -> (qCatalogStream _),
    "q_cdc_source" -> (qCdcSource _),
    "q_versioned_sql_merge2" -> (qVersionedSqlMerge2 _),
    "q_versioned_rename" -> (qVersionedRename _),
    "q_versioned_count_part" -> (qVersionedCountPart _),
    "q_versioned_update" -> (qVersionedUpdate _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_join_native" -> (qAsofJoinNative _),
    "q_asof_fwd" -> (qAsofFwd _),
    "q_asof_nearest" -> (qAsofNearest _),
    "q_range_join" -> (qRangeJoin _),
    "q_window_ma" -> (qWindowMa _),
    "q_bollinger" -> (qBollinger _),
    "q_rsi" -> (qRsi _),
    "q_vwap_obv" -> (qVwapObv _),
    "q_stochastic" -> (qStochastic _),
    "q_drawdown" -> (qDrawdown _),
    "q_macd" -> (qMacd _),
    "q_ewm" -> (qEwm _),
    "q_cusum" -> (qCusum _),
    "q_holt" -> (qHolt _),
    "q_window_stddev" -> (qWindowStddev _),
    "q_window_sliding" -> (qWindowSliding _),
    "q_window_tumbling" -> (qWindowTumbling _),
    "q_union_all" -> (qUnionAll _),
    "q_union_positional" -> (qUnionPositional _),
    "q_scan_jsonl" -> (qScanJsonl _),
    "q_agg_salted" -> (qAggSalted _),
    "q_sessionize" -> (qSessionize _),
    "q_session_window" -> (qSessionWindow _),
    "q_runs" -> (qRuns _),
    "q_debounce" -> (qDebounce _),
    "q_abc_classify" -> (qAbcClassify _),
    "q_text_redact" -> (qTextRedact _),
    "q_case_when" -> (qCaseWhen _),
    "q_topk" -> (qTopK _),
    "q_scalar_datetime" -> (qScalarDatetime _),
    "q_scalar_string" -> (qScalarString _),
    "q_scalar_math" -> (qScalarMath _),
    "q_null_impute" -> (qNullImpute _),
    "q_json_roundtrip" -> (qJsonRoundtrip _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_jaccard_prefix" -> (qDedupJaccardPrefix _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_minhash_verified" -> (qDedupMinhashVerified _),
    "q_dedup_apply" -> (qDedupApply _),
    "q_dedup_apply_best" -> (qDedupApplyBest _),
    "q_dedup_stats" -> (qDedupStats _),
    "q_docs_pipeline" -> (qDocsPipeline _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_langid" -> (qTextLangId _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_fuzzy" -> (qDecontaminateFuzzy _),
    "q_text_novelty" -> (qTextNovelty _),
    "q_dedup_spans" -> (qDedupSpans _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_bpe_vocab" -> (qBpeVocab _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_tokens" -> (qBpeTokens _),
    "q_pack_bpe" -> (qPackBpe _),
    "q_winnow" -> (qWinnow _),
    "q_benford" -> (qBenford _),
    "q_pareto" -> (qPareto _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_acf" -> (qAcf _),
    "q_reconcile" -> (qReconcile _),
    "q_xcorr" -> (qXcorr _),
    "q_chi2" -> (qChi2 _),
    "q_conversion_lag" -> (qConversionLag _),
    "q_interevent_gap" -> (qIntereventGap _),
    "q_share_of_parent" -> (qShareOfParent _),
    "q_rolling_active" -> (qRollingActive _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_fk_audit" -> (qFkAudit _),
    "q_weighted_quantiles" -> (qWeightedQuantiles _),
    "q_centroid_eval" -> (qCentroidEval _),
    "q_embed_project" -> (qEmbedProject _),
    "q_text_bm25" -> (qTextBm25 _),
    "q_retrieve_rerank" -> (qRetrieveRerank _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_auc" -> (qAuc _),
    "q_pr_curve" -> (qPrCurve _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_kappa" -> (qKappa _),
    "q_ndcg" -> (qNdcg _),
    "q_preference" -> (qPreference _),
    "q_seasonal" -> (qSeasonal _),
    "q_key_skew" -> (qKeySkew _),
    "q_quantile_norm" -> (qQuantileNorm _),
    "q_ab_test" -> (qAbTest _),
    "q_wilson" -> (qWilson _),
    "q_feature_hash" -> (qFeatureHash _),
    "q_dsir" -> (qDsir _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_calibration" -> (qCalibration _),
    "q_zipf" -> (qZipf _),
    "q_survival" -> (qSurvival _),
    "q_linkage" -> (qLinkage _),
    "q_match_dist" -> (qMatchDist _),
    "q_embed_gram" -> (qEmbedGram _),
    "q_kll_incremental" -> (qKllIncremental _),
    "q_cms_incremental" -> (qCmsIncremental _),
    "q_contrastive" -> (qContrastive _),
    "q_source_cap" -> (qSourceCap _),
    "q_shuffle_det" -> (qShuffleDet _),
    "q_sim_bruteforce" -> (qSimBruteforce _),
    "q_sim_blocked" -> (qSimBlocked _),
    "q_sim_lsh" -> (qSimLsh _),
    "q_embed_quantize" -> (qEmbedQuantize _),
    "q_sim_quantized" -> (qSimQuantized _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_sim_index" -> (qSimIndex _),
    "q_sim_index_q" -> (qSimIndexQ _),
    "q_sim_ivf_full" -> (qSimIvfFull _),
    "q_hll_incremental" -> (qHllIncremental _),
    "q_theta_algebra" -> (qThetaAlgebra _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_multimodal_dedup" -> (qMultimodalDedup _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_decode" -> (qMultimodalDecode _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_resize" -> (qMultimodalResize _),
    "q_multimodal_ann" -> (qMultimodalAnn _)
  )

  // ======================================================== oracle SQL ==
  // DuckDB dialect, run by the driver over the same parquet tables.
  // Engine-specific sketch/hash OUTPUTS (minhash/simhash pair lists, LSH
  // candidate sets, HLL estimates) are not oracled directly; instead each
  // such operator ships an invariant query whose columns ARE
  // oracle-comparable (exact-side counts + containment/recall-floor flags).
  // Every registered query has an oracle entry: the multimodal stub codec
  // is a pure arithmetic function of the payload bytes (md5 residues /
  // integer byte histogram), replayed below in SQL.

  /** Chained-CTE replay of k greedy BPE merge rounds (Subword.bpeTrain):
    * v0 = delimited char-level vocab; each round i derives pair stats p_i
    * from v_{i-1}, the argmax merge b_i (freq desc, lhs asc, rhs asc),
    * and v_i by the same greedy left-to-right literal replace the Spark
    * side uses — bit-exact round-for-round replay. */
  private def bpeOracleWith(k: Int): String = {
    val base =
      """w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |                            x -> x <> '')) AS w
        |  FROM documents),
        |v0 AS (
        |  SELECT w,
        |         chr(1) || array_to_string(string_split_regex(w, ''),
        |           chr(1)||chr(1)) || chr(1) AS r,
        |         count(*) AS n
        |  FROM w WHERE NOT contains(w, chr(1)) GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs,
         |         CAST(sum(n) AS BIGINT) AS freq
         |  FROM (SELECT string_split(substr(r, 2, length(r)-2),
         |                            chr(1)||chr(1)) AS syms, n,
         |          unnest(range(1, len(string_split(substr(r, 2,
         |            length(r)-2), chr(1)||chr(1))))) AS i
         |        FROM v${i - 1})
         |  GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, lhs || rhs AS merged, freq FROM p$i
         |  ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 1),
         |v$i AS (SELECT v.w,
         |    CASE WHEN b.lhs IS NULL THEN v.r ELSE replace(v.r,
         |      chr(1)||b.lhs||chr(1)||chr(1)||b.rhs||chr(1),
         |      chr(1)||b.merged||chr(1)) END AS r, v.n
         |  FROM v${i - 1} v LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    "WITH " + (base +: rounds).mkString(",\n")
  }

  private def bpeMergesOracle(k: Int): String =
    bpeOracleWith(k) + "\nSELECT * FROM (\n" +
      (1 to k).map(i =>
        s"SELECT $i AS mrank, lhs, rhs, merged, freq FROM b$i")
        .mkString("\nUNION ALL ") +
      ") ORDER BY mrank"

  private def bpeEncodeOracle(k: Int): String =
    bpeOracleWith(k) +
      s""",
         |seg AS (
         |  SELECT w, len(string_split(substr(r, 2, length(r)-2),
         |           chr(1)||chr(1))) AS tok
         |  FROM v$k),
         |dw AS (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |                       x -> x <> '')) AS w
         |  FROM documents)
         |SELECT dw.doc_id, count(*) AS n_words,
         |       CAST(sum(seg.tok) AS BIGINT) AS n_tokens
         |FROM dw JOIN seg ON dw.w = seg.w
         |WHERE NOT contains(dw.w, chr(1))
         |GROUP BY 1""".stripMargin

  /** The token-STREAM replay: segment every corpus word with the v$k
    * symbol arrays and emit (doc_id, wi, si, token) — word and symbol
    * positions both 0-based, gaps where a delimiter-bearing word was
    * dropped (none in real text), bit-exact vs Subword.bpeTokens. */
  private def bpeTokensOracle(k: Int): String =
    bpeOracleWith(k) +
      s""",
         |seg AS (
         |  SELECT w, string_split(substr(r, 2, length(r)-2),
         |           chr(1)||chr(1)) AS syms
         |  FROM v$k),
         |dw AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS wi, ws[i] AS w FROM (
         |    SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM (
         |      SELECT doc_id,
         |        list_filter(regexp_split_to_array(text, '\\s+'),
         |                    x -> x <> '') AS ws
         |      FROM documents)))
         |SELECT doc_id, wi, CAST(j - 1 AS BIGINT) AS si,
         |       syms[j] AS token FROM (
         |  SELECT dw.doc_id, dw.wi, seg.syms,
         |         unnest(range(1, len(seg.syms) + 1)) AS j
         |  FROM dw JOIN seg ON dw.w = seg.w
         |  WHERE NOT contains(dw.w, chr(1)))""".stripMargin

  /** Packing on TRAINED counts: the bpeEncode per-doc totals joined to
    * lang, then the same running-sum pack assignment q_pack uses. */
  private def packBpeOracle(k: Int): String =
    bpeOracleWith(k) +
      s""",
         |seg AS (
         |  SELECT w, len(string_split(substr(r, 2, length(r)-2),
         |           chr(1)||chr(1))) AS tok
         |  FROM v$k),
         |dw AS (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |                       x -> x <> '')) AS w
         |  FROM documents),
         |cnt AS (
         |  SELECT dw.doc_id, CAST(sum(seg.tok) AS BIGINT) AS n_tokens
         |  FROM dw JOIN seg ON dw.w = seg.w
         |  WHERE NOT contains(dw.w, chr(1))
         |  GROUP BY 1),
         |j AS (
         |  SELECT c.doc_id, d.lang, c.n_tokens
         |  FROM cnt c JOIN documents d ON c.doc_id = d.doc_id),
         |r AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
         |      AS start_offset
         |  FROM j)
         |SELECT doc_id, lang, n_tokens, start_offset,
         |  CAST(floor(start_offset / 512) AS BIGINT) AS pack_id
         |FROM r""".stripMargin

  private def bpeVocabOracle(k: Int, topK: Int): String =
    bpeOracleWith(k) +
      s"""
         |SELECT sym, CAST(sum(n) AS BIGINT) AS freq FROM (
         |  SELECT unnest(string_split(substr(r, 2, length(r)-2),
         |           chr(1)||chr(1))) AS sym, n
         |  FROM v$k)
         |GROUP BY 1 ORDER BY freq DESC, sym ASC LIMIT $topK""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesOracle(8),

    "q_bpe_vocab" -> bpeVocabOracle(8, 40),
    "q_bpe_tokens" -> bpeTokensOracle(8),
    "q_pack_bpe" -> packBpeOracle(8),

    "q_bpe_encode" -> bpeEncodeOracle(8),

    // replay of the expectation gate: second half's violating rows
    // (ANSI: NOT coalesce(pred, TRUE)) land in quarantine, rest kept
    "q_expectations" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |  FROM lineitem WHERE l_orderkey % 32 < 4),
        |kept AS (
        |  SELECT * FROM li WHERE l_orderkey % 32 < 2
        |  UNION ALL
        |  SELECT * FROM li WHERE l_orderkey % 32 >= 2
        |    AND coalesce(l_quantity < 30, TRUE)),
        |quar AS (
        |  SELECT * FROM li WHERE l_orderkey % 32 >= 2
        |    AND NOT coalesce(l_quantity < 30, TRUE))
        |SELECT 'kept' AS bucket, l_returnflag AS grp,
        |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty
        |FROM kept GROUP BY 2
        |UNION ALL
        |SELECT 'quarantined' AS bucket, 'qty_cap' AS grp,
        |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty
        |FROM quar""".stripMargin,

    "q_scan_parquet" -> "SELECT * FROM lineitem",

    "q_scan_csv" ->
      "SELECT event_id, event_type, user_id, value FROM events",

    "q_scan_orc" ->
      "SELECT event_id, event_type, user_id, value FROM events",

    "q_project_alias" ->
      """SELECT l_orderkey AS okey, l_linenumber AS line_no,
        | l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem""".stripMargin,

    "q_project_drop" ->
      s"SELECT event_id, $TS AS ts, user_id, event_type, value FROM events",

    "q_cast" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS okey_str,
        | CAST(trunc(l_quantity) AS INT) AS qty_int,
        | CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem""".stripMargin,

    "q_filter_notnull" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL""".stripMargin,

    "q_filter_range" ->
      s"""SELECT count(CASE WHEN value <= 0 THEN 1 END) AS n_nonpositive,
         | count(CASE WHEN $TS > TIMESTAMP '2024-01-16 00:00:00' THEN 1 END)
         |   AS n_future,
         | count(*) AS n_total
         |FROM events""".stripMargin,

    "q_project_subset" ->
      "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders",

    "q_struct_extract" ->
      s"""SELECT event_type,
         | time_bucket(INTERVAL 15 MINUTES, $TS) AS window_start,
         | time_bucket(INTERVAL 15 MINUTES, $TS) + INTERVAL 15 MINUTES
         |   AS window_end,
         | count(*) AS n_events
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_agg_avg_stddev_sum" ->
      s"""SELECT event_type,
         | time_bucket(INTERVAL 15 MINUTES, $TS) AS window_start,
         | round(sum(value), 4) / count(*) AS ma,
         | round(stddev_samp(value), 6) AS volatility,
         | CAST(sum(user_id) AS BIGINT) AS volume_sum,
         | count(*) AS n_events
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_agg_ohlc_window" ->
      s"""SELECT event_type,
         | time_bucket(INTERVAL 15 MINUTES, $TS) AS window_start,
         | time_bucket(INTERVAL 15 MINUTES, $TS) + INTERVAL 15 MINUTES
         |   AS window_end,
         | min($TS) AS first_ts, max($TS) AS last_ts,
         | arg_min(value, $TS) AS open, max(value) AS high,
         | min(value) AS low, arg_max(value, $TS) AS close,
         | round(sum(value), 4) / count(*) AS avg_value,
         | round(stddev_samp(value), 6) AS volatility,
         | count(*) AS n_events,
         | round(sum(value), 4) AS value_sum
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_agg_daily_ohlcv" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS date,
         | arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         | min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         | CAST(sum(user_id) AS BIGINT) AS daily_volume,
         | round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |   AS daily_change
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_count" -> "SELECT count(*) AS n_rows FROM lineitem",

    "q_quantiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_dup_check" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin,

    "q_scd2" ->
      s"""SELECT user_id, event_id, value,
         |  $TS AS effective_from,
         |  lead($TS) OVER (PARTITION BY user_id
         |    ORDER BY $TS, event_id) AS effective_to,
         |  lead($TS) OVER (PARTITION BY user_id
         |    ORDER BY $TS, event_id) IS NULL AS is_current
         |FROM events""".stripMargin,

    "q_series_corr" ->
      s"""WITH series AS (
         |  SELECT event_type,
         |    CAST(floor(epoch($TS) / 3600) AS BIGINT) * 3600 AS bucket,
         |    round(sum(value), 4) / count(value) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT a.event_type AS key1, b.event_type AS key2,
         |  round(corr(a.v, b.v), 6) AS corr_v, count(*) AS n_buckets
         |FROM series a JOIN series b
         |  ON a.bucket = b.bucket AND a.event_type < b.event_type
         |GROUP BY 1, 2
         |HAVING count(*) >= 10""".stripMargin,

    "q_profile" ->
      """SELECT 'event_id' AS column_name, count(*) AS n_rows,
        |  count(*) - count(event_id) AS n_null,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(min(event_id) AS DOUBLE) AS min_num,
        |  CAST(max(event_id) AS DOUBLE) AS max_num
        |FROM events
        |UNION ALL
        |SELECT 'user_id', count(*), count(*) - count(user_id),
        |  count(DISTINCT user_id),
        |  CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', count(*), count(*) - count(event_type),
        |  count(DISTINCT event_type), NULL, NULL
        |FROM events
        |UNION ALL
        |SELECT 'value', count(*), count(*) - count(value),
        |  count(DISTINCT value),
        |  CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
        |FROM events""".stripMargin,

    "q_stats_bivariate" ->
      """SELECT l_returnflag,
        | round(corr(l_extendedprice, l_quantity), 6) AS corr_yx,
        | round(covar_samp(l_extendedprice, l_quantity), 6) AS covar_yx,
        | round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_outliers" ->
      """WITH f AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.25), 6) AS p25,
        |    round(quantile_cont(value, 0.75), 6) AS p75,
        |    round(quantile_cont(value, 0.25)
        |      - 1.5 * (quantile_cont(value, 0.75)
        |               - quantile_cont(value, 0.25)), 6) AS lo,
        |    round(quantile_cont(value, 0.75)
        |      + 1.5 * (quantile_cont(value, 0.75)
        |               - quantile_cont(value, 0.25)), 6) AS hi,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |o AS (
        |  SELECT e.event_type, count(*) AS n_outliers
        |  FROM events e JOIN f USING (event_type)
        |  WHERE e.value < f.lo OR e.value > f.hi
        |  GROUP BY 1)
        |SELECT event_type, p25, p75, lo, hi, n,
        |  coalesce(n_outliers, 0) AS n_outliers
        |FROM f LEFT JOIN o USING (event_type)""".stripMargin,

    "q_outliers_mad" ->
      """WITH m AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.5), 6) AS med, count(*) AS n
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type,
        |    round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |  FROM events e JOIN m USING (event_type) GROUP BY 1),
        |f AS (
        |  SELECT event_type, med, mad,
        |    round(med - 4.4478 * mad, 6) AS lo,
        |    round(med + 4.4478 * mad, 6) AS hi, n
        |  FROM m JOIN d USING (event_type)),
        |o AS (
        |  SELECT e.event_type, count(*) AS n_outliers
        |  FROM events e JOIN f USING (event_type)
        |  WHERE e.value < f.lo OR e.value > f.hi
        |  GROUP BY 1)
        |SELECT event_type, med, mad, lo, hi, n,
        |  coalesce(n_outliers, 0) AS n_outliers
        |FROM f LEFT JOIN o USING (event_type)""".stripMargin,

    "q_entropy" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS t,
        |    count(*) AS n_cats,
        |    sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS snln
        |  FROM c GROUP BY 1)
        |SELECT lang, n_cats, t AS n_rows,
        |  round(ln(CAST(t AS DOUBLE)) - snln / CAST(t AS DOUBLE), 6)
        |    AS entropy,
        |  CASE WHEN n_cats = 1 THEN 0.0 ELSE
        |    round((ln(CAST(t AS DOUBLE)) - snln / CAST(t AS DOUBLE))
        |      / ln(CAST(n_cats AS DOUBLE)), 6) END AS entropy_norm
        |FROM g""".stripMargin,

    "q_top_paths" ->
      s"""WITH x AS (SELECT user_id, $TS AS tts, event_id, event_type
         |           FROM events),
         |y AS (SELECT *, CASE WHEN epoch_us(tts) - lag(epoch_us(tts))
         |    OVER (PARTITION BY user_id ORDER BY tts, event_id)
         |    > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
         |z AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING)
         |    AS sess FROM y),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
         |    ORDER BY tts, event_id) AS rn FROM z),
         |p AS (SELECT user_id, sess,
         |    string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
         |SELECT path, count(*) AS n_sessions
         |FROM p GROUP BY 1
         |ORDER BY n_sessions DESC, path
         |LIMIT 20""".stripMargin,

    // The oracle needs no orientation trick: a direct 3-way join on the
    // canonical (lo < hi) pair set enumerates each triangle once as
    // a < b < c; per-vertex counts unnest the triple.
    "q_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |small AS (
        |  SELECT g FROM items GROUP BY g HAVING count(*) <= 1000),
        |pruned AS (SELECT items.* FROM items JOIN small USING (g)),
        |pairs AS (
        |  SELECT DISTINCT a.i AS id1, b.i AS id2
        |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.i < b.i),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT id1 AS id FROM pairs
        |        UNION ALL SELECT id2 FROM pairs)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.id2 = e2.id1
        |  JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
        |pv AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS triangles
        |  FROM (SELECT unnest([a, b, c]) AS id FROM tri)
        |  GROUP BY 1)
        |SELECT d.id, d.degree,
        |  coalesce(pv.triangles, 0) AS triangles,
        |  CASE WHEN d.degree < 2 THEN NULL
        |    ELSE CAST(2 * coalesce(pv.triangles, 0) AS DOUBLE)
        |      / CAST(d.degree * (d.degree - 1) AS DOUBLE) END
        |    AS clustering_coeff
        |FROM deg d LEFT JOIN pv ON d.id = pv.id""".stripMargin,

    "q_pagerank" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |small AS (
        |  SELECT g FROM items GROUP BY g HAVING count(*) <= 1000),
        |pruned AS (SELECT items.* FROM items JOIN small USING (g)),
        |pairs AS (
        |  SELECT DISTINCT a.i AS id1, b.i AS id2
        |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.i < b.i),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |s0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS s FROM deg),
        |c1 AS (SELECT e.dst, CAST(sum(s.s // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s0 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s1 AS (SELECT s0.id,
        |         CAST(150000000 + (17 * coalesce(c1.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s0 LEFT JOIN c1 ON s0.id = c1.dst),
        |c2 AS (SELECT e.dst, CAST(sum(s.s // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s1 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s2 AS (SELECT s1.id,
        |         CAST(150000000 + (17 * coalesce(c2.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s1 LEFT JOIN c2 ON s1.id = c2.dst),
        |c3 AS (SELECT e.dst, CAST(sum(s.s // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s2 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s3 AS (SELECT s2.id,
        |         CAST(150000000 + (17 * coalesce(c3.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s2 LEFT JOIN c3 ON s2.id = c3.dst)
        |SELECT id AS part_id, s AS score FROM s3""".stripMargin,

    // Synchronous LPA replayed round by round; argmax = (n DESC, lab ASC)
    // row_number, mirroring the engine's max(struct(n, -lab)).
    "q_label_prop" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |small AS (
        |  SELECT g FROM items GROUP BY g HAVING count(*) <= 1000),
        |pruned AS (SELECT items.* FROM items JOIN small USING (g)),
        |pairs AS (
        |  SELECT DISTINCT a.i AS id1, b.i AS id2
        |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.i < b.i),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |l0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS lab
        |       FROM edges),
        |c1 AS (SELECT e.src, l.lab, count(*) AS n FROM edges e
        |       JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
        |l1 AS (SELECT src AS id, lab FROM (
        |  SELECT src, lab, row_number() OVER (PARTITION BY src
        |    ORDER BY n DESC, lab ASC) AS rk FROM c1) WHERE rk = 1),
        |c2 AS (SELECT e.src, l.lab, count(*) AS n FROM edges e
        |       JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
        |l2 AS (SELECT src AS id, lab FROM (
        |  SELECT src, lab, row_number() OVER (PARTITION BY src
        |    ORDER BY n DESC, lab ASC) AS rk FROM c2) WHERE rk = 1),
        |c3 AS (SELECT e.src, l.lab, count(*) AS n FROM edges e
        |       JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
        |l3 AS (SELECT src AS id, lab FROM (
        |  SELECT src, lab, row_number() OVER (PARTITION BY src
        |    ORDER BY n DESC, lab ASC) AS rk FROM c3) WHERE rk = 1)
        |SELECT id AS part_id, CAST(lab AS BIGINT) AS community
        |FROM l3""".stripMargin,

    "q_pagerank_weighted" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |small AS (
        |  SELECT g FROM items GROUP BY g HAVING count(*) <= 1000),
        |pruned AS (SELECT items.* FROM items JOIN small USING (g)),
        |pairs AS (
        |  SELECT a.i AS id1, b.i AS id2, count(*) AS w
        |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT src, dst, max(w) AS w FROM (
        |    SELECT id1 AS src, id2 AS dst, w FROM pairs
        |    UNION ALL SELECT id2, id1, w FROM pairs)
        |  GROUP BY 1, 2),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
        |        FROM edges GROUP BY 1),
        |s0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS s FROM deg),
        |c1 AS (SELECT e.dst, CAST(sum(s.s * e.w // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s0 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s1 AS (SELECT s0.id,
        |         CAST(150000000 + (17 * coalesce(c1.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s0 LEFT JOIN c1 ON s0.id = c1.dst),
        |c2 AS (SELECT e.dst, CAST(sum(s.s * e.w // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s1 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s2 AS (SELECT s1.id,
        |         CAST(150000000 + (17 * coalesce(c2.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s1 LEFT JOIN c2 ON s1.id = c2.dst),
        |c3 AS (SELECT e.dst, CAST(sum(s.s * e.w // d.deg) AS BIGINT) AS cin
        |       FROM edges e JOIN s2 s ON e.src = s.id
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |s3 AS (SELECT s2.id,
        |         CAST(150000000 + (17 * coalesce(c3.cin, 0)) // 20
        |           AS BIGINT) AS s
        |       FROM s2 LEFT JOIN c3 ON s2.id = c3.dst)
        |SELECT id AS part_id, s AS score FROM s3""".stripMargin,

    "q_markov" ->
      s"""WITH t AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY $TS, event_id) AS to_type
         |  FROM events),
         |c AS (
         |  SELECT from_type, to_type, count(*) AS n
         |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (
         |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
         |  FROM c GROUP BY 1)
         |SELECT from_type, to_type, n,
         |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
         |FROM c JOIN tot USING (from_type)""".stripMargin,

    "q_distinct_count" ->
      """SELECT count(*) AS n_rows,
        | count(DISTINCT l_returnflag) AS n_l_returnflag,
        | count(DISTINCT l_partkey) AS n_l_partkey,
        | count(DISTINCT l_suppkey) AS n_l_suppkey
        |FROM lineitem""".stripMargin,

    "q_dedup_keep_last" ->
      s"""SELECT event_id, user_id, event_type, value FROM events
         |QUALIFY row_number() OVER (PARTITION BY user_id
         |  ORDER BY $TS DESC, event_id DESC) = 1""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4)
        |   AS sum_disc_price,
        | sum(l_quantity) / count(*) AS avg_qty,
        | round(sum(l_extendedprice), 4) / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem, orders, customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q_tpch_q22" ->
      """WITH t AS (
        |  SELECT round(sum(c_acctbal), 4) / count(c_acctbal) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer c, t
        |WHERE c.c_acctbal > t.avg_bal
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q17" ->
      """WITH a AS (
        |  SELECT l_partkey AS a_partkey,
        |    round(sum(l_quantity), 4) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT round(sum(l_extendedprice), 4) / 7.0 AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN a ON l.l_partkey = a.a_partkey
        |WHERE p.p_brand = 'Brand#23'
        |  AND l.l_quantity < 0.5 * a.avg_qty""".stripMargin,

    "q_tpch_q19" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q14" ->
      """SELECT year(l_shipdate) AS ship_year,
        |  month(l_shipdate) AS ship_month,
        |  100.0 * round(sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 4)
        |    / round(sum(l_extendedprice * (1 - l_discount)), 4)
        |    AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2""".stripMargin,

    "q_tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_2'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 4)
        |    / round(sum(l_extendedprice * (1 - l_discount)), 4)
        |    AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""
        .stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300.0) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q21" ->
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1""".stripMargin,

    "q_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,

    "q_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
        |    OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity / 100.0), 4) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q_tpch_q11" ->
      """WITH base AS (
        |  SELECT l_partkey, l_extendedprice * l_quantity AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |t AS (SELECT round(sum(v), 4) AS total_value,
        |  count(DISTINCT l_partkey) AS n_parts FROM base)
        |SELECT l_partkey, round(sum(v), 4) AS part_value
        |FROM base, t
        |GROUP BY l_partkey, t.total_value, t.n_parts
        |HAVING round(sum(v), 4) > 2.0 * total_value / n_parts""".stripMargin,

    "q_tpch_q12" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
        |    THEN 'FAST'
        |    WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
        |    THEN 'SLOW' ELSE 'LATE' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_tpch_q2" ->
      """WITH sup_eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD' AND p_size < 25
        |    AND l_suppkey IN (SELECT s_suppkey FROM sup_eur)
        |  GROUP BY 1, 2),
        |m AS (SELECT l_partkey AS m_partkey, min(unit_cost) AS min_cost
        |  FROM ps GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, l_partkey, l_suppkey,
        |  round(unit_cost, 6) AS unit_cost
        |FROM ps
        |JOIN m ON l_partkey = m_partkey AND unit_cost = min_cost
        |JOIN sup_eur ON l_suppkey = s_suppkey
        |ORDER BY s_acctbal DESC, l_partkey, l_suppkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q20" ->
      """WITH base AS (
        |  SELECT l_partkey, l_suppkey, l_quantity
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'),
        |per_ps AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM base GROUP BY 1, 2),
        |per_p AS (
        |  SELECT l_partkey AS t_partkey, sum(l_quantity) AS total_qty
        |  FROM base GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT l_suppkey
        |  FROM per_ps JOIN per_p ON l_partkey = t_partkey
        |  WHERE 8.0 * supp_qty > total_qty)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM q)""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority NOT LIKE '1%') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q_set_ops" ->
      """WITH a AS (SELECT lang, source FROM documents WHERE doc_id % 2 = 0),
        |     b AS (SELECT lang, source FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, source, 'intersect' AS set_op
        |  FROM ((SELECT * FROM a) INTERSECT (SELECT * FROM b))
        |UNION ALL SELECT lang, source, 'only_a'
        |  FROM ((SELECT * FROM a) EXCEPT (SELECT * FROM b))
        |UNION ALL SELECT lang, source, 'only_b'
        |  FROM ((SELECT * FROM b) EXCEPT (SELECT * FROM a))
        |UNION ALL SELECT lang, source, 'intersect_all'
        |  FROM ((SELECT * FROM a) INTERSECT ALL (SELECT * FROM b))
        |UNION ALL SELECT lang, source, 'only_a_all'
        |  FROM ((SELECT * FROM a) EXCEPT ALL (SELECT * FROM b))
        |UNION ALL SELECT lang, source, 'only_b_all'
        |  FROM ((SELECT * FROM b) EXCEPT ALL (SELECT * FROM a))"""
        .stripMargin,

    "q_percentile_exact" ->
      """WITH g AS (
        |  SELECT event_type,
        |    quantile_cont(value, [0.25, 0.5, 0.75]) AS ps,
        |    count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT event_type, 0.25 AS q, round(ps[1], 6) AS value_q, n FROM g
        |UNION ALL
        |SELECT event_type, 0.5, round(ps[2], 6), n FROM g
        |UNION ALL
        |SELECT event_type, 0.75, round(ps[3], 6), n FROM g"""
        .stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n_distinct
        |  FROM c)
        |SELECT event_type, user_id AS mode_value, n AS mode_n, n_distinct
        |FROM r WHERE rk = 1""".stripMargin,

    "q_histogram" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(least(24.0, greatest(0.0,
        |      (value - 0.0) / 20.0))) AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, bin, count(*) AS n,
        |  round(0.0 + bin * 20.0, 6) AS bin_lo,
        |  round(0.0 + (bin + 1) * 20.0, 6) AS bin_hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    // Same clamped bin grid, Laplace-smoothed shares, (p-q)*ln(p/q) terms.
    "q_psi" ->
      s"""WITH ha AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS na
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) <= DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |hb AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS nb
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) > DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, coalesce(ta, 0) AS ta, coalesce(tb, 0) AS tb
         |  FROM (SELECT event_type, sum(na) AS ta FROM ha GROUP BY 1)
         |  FULL OUTER JOIN (SELECT event_type, sum(nb) AS tb FROM hb
         |                   GROUP BY 1) USING (event_type)),
         |j AS (
         |  SELECT t.event_type, t.ta, t.tb, CAST(g.bin AS INT) AS bin,
         |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
         |  FROM t CROSS JOIN (SELECT unnest(range(25)) AS bin) g
         |  LEFT JOIN ha ON ha.event_type = t.event_type AND ha.bin = g.bin
         |  LEFT JOIN hb ON hb.event_type = t.event_type AND hb.bin = g.bin)
         |SELECT event_type,
         |  round(sum(((na + 1.0) / (ta + 25.0) - (nb + 1.0) / (tb + 25.0))
         |    * ln(((na + 1.0) / (ta + 25.0))
         |         / ((nb + 1.0) / (tb + 25.0)))), 6) AS psi,
         |  CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
         |FROM j
         |GROUP BY 1""".stripMargin,

    // Shares the q_psi grid CTEs; the JS term is written with the exact
    // expression tree of Stats.jsDivergence and ln 2 as the same double
    // literal Spark folds.
    "q_jsd" ->
      s"""WITH ha AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS na
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) <= DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |hb AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS nb
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) > DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, coalesce(ta, 0) AS ta, coalesce(tb, 0) AS tb
         |  FROM (SELECT event_type, sum(na) AS ta FROM ha GROUP BY 1)
         |  FULL OUTER JOIN (SELECT event_type, sum(nb) AS tb FROM hb
         |                   GROUP BY 1) USING (event_type)),
         |j AS (
         |  SELECT t.event_type, t.ta, t.tb, CAST(g.bin AS INT) AS bin,
         |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
         |  FROM t CROSS JOIN (SELECT unnest(range(25)) AS bin) g
         |  LEFT JOIN ha ON ha.event_type = t.event_type AND ha.bin = g.bin
         |  LEFT JOIN hb ON hb.event_type = t.event_type AND hb.bin = g.bin),
         |s AS (
         |  SELECT event_type,
         |    sum((na + 1.0) / (ta + 25.0)
         |        * ln(2.0 * ((na + 1.0) / (ta + 25.0))
         |          / ((na + 1.0) / (ta + 25.0) + (nb + 1.0) / (tb + 25.0)))
         |      + (nb + 1.0) / (tb + 25.0)
         |        * ln(2.0 * ((nb + 1.0) / (tb + 25.0))
         |          / ((na + 1.0) / (ta + 25.0) + (nb + 1.0) / (tb + 25.0))))
         |      AS term,
         |    CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
         |  FROM j GROUP BY 1)
         |SELECT event_type, round(term * 0.5, 6) AS jsd,
         |  round(term * 0.5 / 0.6931471805599453, 6) AS jsd_norm,
         |  n_a, n_b
         |FROM s""".stripMargin,

    "q_ks" ->
      s"""WITH ha AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS na
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) <= DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |hb AS (
         |  SELECT event_type,
         |    CAST(floor(least(24.0, greatest(0.0,
         |      (value - 0.0) / 20.0))) AS INT) AS bin, count(*) AS nb
         |  FROM events
         |  WHERE value IS NOT NULL AND CAST(ts AS DATE) > DATE '2024-01-15'
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, coalesce(ta, 0) AS ta, coalesce(tb, 0) AS tb
         |  FROM (SELECT event_type, sum(na) AS ta FROM ha GROUP BY 1)
         |  FULL OUTER JOIN (SELECT event_type, sum(nb) AS tb FROM hb
         |                   GROUP BY 1) USING (event_type)),
         |j AS (
         |  SELECT t.event_type, t.ta, t.tb, CAST(g.bin AS INT) AS bin,
         |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
         |  FROM t CROSS JOIN (SELECT unnest(range(25)) AS bin) g
         |  LEFT JOIN ha ON ha.event_type = t.event_type AND ha.bin = g.bin
         |  LEFT JOIN hb ON hb.event_type = t.event_type AND hb.bin = g.bin),
         |c AS (
         |  SELECT event_type, ta, tb, na, nb,
         |    sum(na) OVER (PARTITION BY event_type ORDER BY bin) AS ca,
         |    sum(nb) OVER (PARTITION BY event_type ORDER BY bin) AS cb
         |  FROM j)
         |SELECT event_type,
         |  CASE WHEN max(ta) = 0 OR max(tb) = 0 THEN NULL
         |    ELSE round(max(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
         |      - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))), 6) END AS ks,
         |  CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
         |FROM c GROUP BY 1""".stripMargin,

    // Bigrams via a positional self-join on the unnest subscripts (the
    // Spark side zips arrays instead — same pair stream); every ln takes
    // an exact count, pmi ordered on the raw double.
    "q_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |u AS (SELECT unnest(ts) AS term FROM toks),
        |uni AS (SELECT term, count(*) AS n FROM u GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS tu,
        |  (SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT)
        |   FROM toks) AS tp),
        |pos AS (
        |  SELECT doc_id, unnest(ts) AS term,
        |    generate_subscripts(ts, 1) AS pos
        |  FROM toks),
        |b AS (
        |  SELECT a.term AS w1, c.term AS w2
        |  FROM pos a JOIN pos c
        |    ON a.doc_id = c.doc_id AND c.pos = a.pos + 1),
        |p AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM b GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, n_ab,
        |  CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
        |  round(ln(n_ab) - ln(tp) - ln(ua.n) - ln(ub.n)
        |    + 2.0 * ln(tu), 6) AS pmi,
        |  CASE WHEN n_ab = tp THEN NULL
        |    ELSE round((ln(n_ab) - ln(tp) - ln(ua.n) - ln(ub.n)
        |        + 2.0 * ln(tu)) / (ln(tp) - ln(n_ab)), 6) END AS npmi
        |FROM p
        |JOIN uni ua ON p.w1 = ua.term
        |JOIN uni ub ON p.w2 = ub.term, tot
        |ORDER BY ln(n_ab) - ln(tp) - ln(ua.n) - ln(ub.n) + 2.0 * ln(tu)
        |  DESC, w1, w2
        |LIMIT 50""".stripMargin,

    "q_resample" ->
      s"""WITH o AS (
         |  SELECT event_type, event_id, value,
         |    time_bucket(INTERVAL 1 HOUR, $TS) AS h, $TS AS tts
         |  FROM events),
         |b AS (
         |  SELECT event_type, h AS grid_ts, value AS v_last
         |  FROM (SELECT event_type, h, value,
         |          row_number() OVER (PARTITION BY event_type, h
         |            ORDER BY tts DESC, event_id DESC) AS rk
         |        FROM o)
         |  WHERE rk = 1),
         |bounds AS (
         |  SELECT event_type, min(grid_ts) AS lo, max(grid_ts) AS hi
         |  FROM b GROUP BY 1),
         |grid AS (
         |  SELECT event_type,
         |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS grid_ts
         |  FROM bounds),
         |j AS (
         |  SELECT g.event_type, g.grid_ts, b.v_last,
         |    CASE WHEN b.v_last IS NULL THEN 1 ELSE 0 END AS is_gap
         |  FROM grid g LEFT JOIN b
         |    ON g.event_type = b.event_type AND g.grid_ts = b.grid_ts)
         |SELECT event_type, grid_ts, v_last, is_gap,
         |  last_value(v_last IGNORE NULLS) OVER (
         |    PARTITION BY event_type ORDER BY grid_ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
         |FROM j""".stripMargin,

    // same grid CTEs as q_resample + the two IGNORE NULLS anchor windows;
    // the interpolation itself is single-expression double arithmetic on
    // exact epoch integers — unrounded, bit-identical
    "q_interpolate" ->
      s"""WITH o AS (
         |  SELECT event_type, event_id, value,
         |    time_bucket(INTERVAL 1 HOUR, $TS) AS h, $TS AS tts
         |  FROM events),
         |b AS (
         |  SELECT event_type, h AS grid_ts, value AS v_last
         |  FROM (SELECT event_type, h, value,
         |          row_number() OVER (PARTITION BY event_type, h
         |            ORDER BY tts DESC, event_id DESC) AS rk
         |        FROM o)
         |  WHERE rk = 1),
         |bounds AS (
         |  SELECT event_type, min(grid_ts) AS lo, max(grid_ts) AS hi
         |  FROM b GROUP BY 1),
         |grid AS (
         |  SELECT event_type,
         |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS grid_ts
         |  FROM bounds),
         |j AS (
         |  SELECT g.event_type, g.grid_ts, b.v_last,
         |    CASE WHEN b.v_last IS NULL THEN 1 ELSE 0 END AS is_gap
         |  FROM grid g LEFT JOIN b
         |    ON g.event_type = b.event_type AND g.grid_ts = b.grid_ts),
         |anch AS (
         |  SELECT event_type, grid_ts, v_last, is_gap,
         |    date_part('epoch', grid_ts) AS t,
         |    last_value(v_last IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY grid_ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN v_last IS NOT NULL
         |        THEN date_part('epoch', grid_ts) END IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY grid_ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(v_last IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY grid_ts
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v_last IS NOT NULL
         |        THEN date_part('epoch', grid_ts) END IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY grid_ts
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM j)
         |SELECT event_type, grid_ts, v_last, is_gap,
         |  CASE WHEN v_last IS NOT NULL THEN v_last
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL
         |         THEN pv + (nv - pv) * ((t - pt) / (nt - pt))
         |  END AS v_interp,
         |  nv AS value_bf
         |FROM anch""".stripMargin,

    "q_map_explode" ->
      """WITH m AS (
        |  SELECT event_id,
        |    unnest(map_entries(CAST(props AS JSON)::MAP(VARCHAR, INT))) AS e
        |  FROM events)
        |SELECT e.key AS prop_key, count(*) AS n,
        |  CAST(sum(e.value) AS BIGINT) AS sum_val,
        |  min(e.value) AS min_val, max(e.value) AS max_val
        |FROM m GROUP BY 1""".stripMargin,

    "q_window_corr" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_returnflag, l_quantity, l_extendedprice,
        |  round(corr(l_quantity, l_extendedprice) OVER (
        |    PARTITION BY l_returnflag
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |      l_extendedprice, l_quantity
        |    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 6) AS corr_15
        |FROM lineitem""".stripMargin,

    "q_winsorize" ->
      """WITH f AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.01), 6) AS fence_lo,
        |    round(quantile_cont(value, 0.99), 6) AS fence_hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, value, fence_lo, fence_hi,
        |  CASE WHEN value IS NULL THEN NULL
        |    ELSE least(greatest(value, fence_lo), fence_hi) END AS value_w
        |FROM events JOIN f USING (event_type)""".stripMargin,

    "q_join_salted" ->
      """SELECT event_id, event_type, value,
        |  upper(event_type) AS type_tag
        |FROM events""".stripMargin,

    "q_window_lagged" ->
      s"""SELECT event_id, event_type,
         |  lag(value, 1) OVER w AS lag_1,
         |  lead(value, 1) OVER w AS lead_1,
         |  lag(value, 3) OVER w AS lag_3,
         |  lead(value, 3) OVER w AS lead_3,
         |  (value - lag(value, 1) OVER w)
         |    / nullif(lag(value, 1) OVER w, 0.0) AS pct_change
         |FROM (SELECT event_id, event_type, value, $TS AS tts FROM events)
         |WINDOW w AS (PARTITION BY event_type ORDER BY tts, event_id)"""
        .stripMargin,

    "q_window_ranks" ->
      """SELECT event_id, event_type,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS dense_rnk,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume_d
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)"""
        .stripMargin,

    "q_join_inner" ->
      s"""WITH m15 AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 5 MINUTES, $TS) - k * (INTERVAL 5 MINUTES)
         |      AS window_start,
         |    round(sum(value), 4) / count(*) AS ma_15m,
         |    round(stddev_samp(value), 6) AS volatility_15m,
         |    count(*) AS n_15m
         |  FROM events, (SELECT unnest([0, 1, 2]) AS k)
         |  GROUP BY 1, 2),
         |h1 AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 10 MINUTES, $TS) - k * (INTERVAL 10 MINUTES)
         |      AS window_start,
         |    round(sum(value), 4) / count(*) AS ma_1h,
         |    count(*) AS n_1h
         |  FROM events, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
         |  GROUP BY 1, 2)
         |SELECT m15.event_type, m15.window_start, ma_15m, volatility_15m,
         |  n_15m, ma_1h, n_1h
         |FROM m15 JOIN h1 ON m15.event_type = h1.event_type
         |  AND m15.window_start = h1.window_start""".stripMargin,

    "q_join_multiway" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_join_semi" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey
        |    AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q_join_anti" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey
        |    AND o_orderpriority = '1-URGENT')""".stripMargin,

    // bloom prefilter + exact semi == exact semi (no false negatives;
    // false positives removed by the exact join)
    "q_join_bloom" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey
        |    AND o_orderpriority = '1-URGENT')""".stripMargin,

    // exact quantile bounds are oracle-computable; the flags assert the
    // percentile_approx rank-error contract (eps = 1/accuracy, 10x margin)
    "q_quantiles_bounds" ->
      """SELECT
        | round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_exact,
        | round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        | round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_exact,
        | true AS p25_within_bounds,
        | true AS p50_within_bounds,
        | true AS p75_within_bounds
        |FROM lineitem""".stripMargin,

    "q_topk_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
        |        l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |          AS rank
        |      FROM lineitem)
        |WHERE rank <= 3""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | GROUPING(l_returnflag, l_linestatus) AS grouping_id,
        | sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | GROUPING(l_returnflag, l_linestatus) AS grouping_id,
        | sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | GROUPING(l_returnflag, l_linestatus) AS grouping_id,
        | sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |  l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        | sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        | sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    // Morton interleave as chained CTEs (masks 0x00FF00FF / 0x0F0F0F0F /
    // 0x33333333 / 0x55555555 in decimal)
    "q_zorder" ->
      """WITH b AS (
        |  SELECT min(event_id) AS xlo, max(event_id) AS xhi,
        |         min(user_id) AS ylo, max(user_id) AS yhi
        |  FROM events),
        |n AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN xhi = xlo THEN 0 ELSE
        |      CAST(floor(CAST(event_id - xlo AS DOUBLE) * 65535.0
        |        / CAST(xhi - xlo AS DOUBLE)) AS BIGINT) END AS nx,
        |    CASE WHEN yhi = ylo THEN 0 ELSE
        |      CAST(floor(CAST(user_id - ylo AS DOUBLE) * 65535.0
        |        / CAST(yhi - ylo AS DOUBLE)) AS BIGINT) END AS ny
        |  FROM events, b),
        |s1 AS (SELECT event_id, user_id,
        |  ((nx & 65535) | ((nx & 65535) << 8)) & 16711935 AS x,
        |  ((ny & 65535) | ((ny & 65535) << 8)) & 16711935 AS y FROM n),
        |s2 AS (SELECT event_id, user_id,
        |  ((x | (x << 4)) & 252645135) AS x,
        |  ((y | (y << 4)) & 252645135) AS y FROM s1),
        |s3 AS (SELECT event_id, user_id,
        |  ((x | (x << 2)) & 858993459) AS x,
        |  ((y | (y << 2)) & 858993459) AS y FROM s2),
        |s4 AS (SELECT event_id, user_id,
        |  ((x | (x << 1)) & 1431655765) AS x,
        |  ((y | (y << 1)) & 1431655765) AS y FROM s3)
        |SELECT event_id, user_id, (x | (y << 1)) AS zval FROM s4"""
        .stripMargin,

    "q_zorder_nd" -> {
      // 48-term generic interleave: z bit (3i + j) = bit i of dimension j
      val terms = (for { j <- 0 until 3; i <- 0 until 16 }
        yield s"(((n$j >> $i) & 1) << ${i * 3 + j})").mkString(" | ")
      s"""WITH b AS (
         |  SELECT min(event_id) AS lo0, max(event_id) AS hi0,
         |         min(user_id) AS lo1, max(user_id) AS hi1,
         |         min(value) AS lo2, max(value) AS hi2
         |  FROM events),
         |n AS (
         |  SELECT event_id, user_id, value,
         |    CASE WHEN hi0 = lo0 THEN 0 ELSE
         |      CAST(floor(CAST(event_id - lo0 AS DOUBLE) * 65535.0
         |        / CAST(hi0 - lo0 AS DOUBLE)) AS BIGINT) END AS n0,
         |    CASE WHEN hi1 = lo1 THEN 0 ELSE
         |      CAST(floor(CAST(user_id - lo1 AS DOUBLE) * 65535.0
         |        / CAST(hi1 - lo1 AS DOUBLE)) AS BIGINT) END AS n1,
         |    CASE WHEN hi2 = lo2 THEN 0 ELSE
         |      CAST(floor(CAST(value - lo2 AS DOUBLE) * 65535.0
         |        / CAST(hi2 - lo2 AS DOUBLE)) AS BIGINT) END AS n2
         |  FROM events, b)
         |SELECT event_id, user_id, value, ($terms) AS zval FROM n"""
        .stripMargin
    },

    "q_sample" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 10 = 3""".stripMargin,

    "q_sample_stratified" ->
      """SELECT event_type, event_id, user_id, value
        |FROM (SELECT event_type, event_id, user_id, value,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE rn <= 5""".stripMargin,

    "q_split" ->
      """SELECT doc_id, lang, source,
        |  CASE
        |    WHEN substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         < 'cccccccc' THEN 'train'
        |    WHEN substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         < 'e6666666' THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents""".stripMargin,

    "q_mixture" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    substr(md5('mix' || source || ':' || CAST(doc_id AS VARCHAR)),
        |           1, 8) AS h
        |  FROM documents)
        |WHERE h < CASE source
        |  WHEN 'src0' THEN 'g'
        |  WHEN 'src1' THEN '80000000'
        |  WHEN 'src2' THEN '40000000'
        |  WHEN 'src3' THEN '19999999'
        |  ELSE '' END""".stripMargin,

    // Same ten 4dp-rounded sums, same Cramer + R-squared expression trees.
    "q_ols" ->
      s"""WITH s AS (
         |  SELECT event_type, count(*) AS n,
         |    round(sum(CAST(user_id AS DOUBLE)), 4) AS sx1,
         |    round(sum(CAST(date_part('hour', $TS) AS DOUBLE)), 4) AS sx2,
         |    round(sum(value), 4) AS sy,
         |    round(sum(value * value), 4) AS syy,
         |    round(sum(CAST(user_id AS DOUBLE)
         |      * CAST(user_id AS DOUBLE)), 4) AS sx11,
         |    round(sum(CAST(date_part('hour', $TS) AS DOUBLE)
         |      * CAST(date_part('hour', $TS) AS DOUBLE)), 4) AS sx22,
         |    round(sum(CAST(user_id AS DOUBLE)
         |      * CAST(date_part('hour', $TS) AS DOUBLE)), 4) AS sx12,
         |    round(sum(CAST(user_id AS DOUBLE) * value), 4) AS sx1y,
         |    round(sum(CAST(date_part('hour', $TS) AS DOUBLE) * value), 4)
         |      AS sx2y
         |  FROM events
         |  WHERE value IS NOT NULL AND user_id IS NOT NULL
         |    AND ts IS NOT NULL
         |  GROUP BY 1),
         |b AS (
         |  SELECT event_type, n, sy, sx1y, sx2y, syy,
         |    (sy * (sx11 * sx22 - sx12 * sx12)
         |      - sx1 * (sx1y * sx22 - sx12 * sx2y)
         |      + sx2 * (sx1y * sx12 - sx11 * sx2y))
         |      / nullif(n * (sx11 * sx22 - sx12 * sx12)
         |        - sx1 * (sx1 * sx22 - sx12 * sx2)
         |        + sx2 * (sx1 * sx12 - sx11 * sx2), 0.0) AS b0,
         |    (n * (sx1y * sx22 - sx12 * sx2y)
         |      - sy * (sx1 * sx22 - sx12 * sx2)
         |      + sx2 * (sx1 * sx2y - sx1y * sx2))
         |      / nullif(n * (sx11 * sx22 - sx12 * sx12)
         |        - sx1 * (sx1 * sx22 - sx12 * sx2)
         |        + sx2 * (sx1 * sx12 - sx11 * sx2), 0.0) AS b1,
         |    (n * (sx11 * sx2y - sx1y * sx12)
         |      - sx1 * (sx1 * sx2y - sx1y * sx2)
         |      + sy * (sx1 * sx12 - sx11 * sx2))
         |      / nullif(n * (sx11 * sx22 - sx12 * sx12)
         |        - sx1 * (sx1 * sx22 - sx12 * sx2)
         |        + sx2 * (sx1 * sx12 - sx11 * sx2), 0.0) AS b2
         |  FROM s)
         |SELECT event_type, n,
         |  round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
         |  round(1.0 - (syy - b0 * sy - b1 * sx1y - b2 * sx2y)
         |    / nullif(syy - sy * sy / n, 0.0), 6) AS r2
         |FROM b""".stripMargin,

    "q_standardize" ->
      s"""WITH s AS (
         |  SELECT event_type,
         |    round(sum(value), 4) / nullif(count(value), 0) AS mean,
         |    round(stddev_samp(value), 6) AS sd
         |  FROM events GROUP BY 1)
         |SELECT event_id, event_type,
         |  round((value - mean) / nullif(sd, 0.0), 6) AS z
         |FROM events JOIN s USING (event_type)""".stripMargin,

    // Recomputes balanceBy's whole chain: per-lang counts -> feasible
    // output size M = min(n/t) -> keep-rate w = M*t/n -> %08x threshold
    // (identical IEEE arithmetic both sides) -> md5 membership draw.
    "q_embed_gram" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 4096.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, unnest(qv) AS x,
        |    generate_subscripts(qv, 1) AS pos
        |  FROM q)
        |SELECT CAST(a.pos - 1 AS INT) AS i, CAST(b.pos - 1 AS INT) AS j,
        |  CAST(sum(a.x * b.x) AS BIGINT) AS g
        |FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.pos >= a.pos
        |GROUP BY 1, 2""".stripMargin,

    // q_balance's machinery with bin-derived targets: the reference total
    // cancels, so w_b = min_c(n_c/r_c) * r_b / n_b straight from counts.
    "q_match_dist" ->
      """WITH cur AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(floor(least(11.0, greatest(0.0,
        |      (n_chars - 0.0) / 50.0))) AS INT) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT bin, count(*) AS n FROM cur GROUP BY 1),
        |r0 AS (
        |  SELECT CAST(floor(least(11.0, greatest(0.0,
        |      (n_chars - 0.0) / 50.0))) AS INT) AS bin, count(*) AS r
        |  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT c.bin, c.n, r0.r FROM c JOIN r0 USING (bin)),
        |m AS (SELECT min(CAST(n AS DOUBLE) / CAST(r AS DOUBLE)) AS m FROM j),
        |rates AS (
        |  SELECT bin,
        |    CASE WHEN m.m * CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |        >= 1 - 0.000000001 THEN 'g'
        |      ELSE printf('%08x', CAST(least(
        |        floor(m.m * CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |          * 4294967296.0), 4294967295.0) AS BIGINT)) END AS thr
        |  FROM j, m)
        |SELECT doc_id, lang, source, n_chars
        |FROM cur JOIN rates USING (bin)
        |WHERE substr(md5('matchdist' || CAST(bin AS VARCHAR) || ':'
        |    || CAST(doc_id AS VARCHAR)), 1, 8) < rates.thr""".stripMargin,

    "q_balance" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IN ('de', 'en', 'es', 'fr', 'zh') GROUP BY 1),
        |m AS (SELECT min(n / 0.2) AS m FROM counts),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN m.m * 0.2 / c.n >= 1 - 0.000000001 THEN 'g'
        |         ELSE printf('%08x', CAST(least(
        |           floor(m.m * 0.2 / c.n * 4294967296.0),
        |           4294967295.0) AS BIGINT)) END AS thr
        |  FROM counts c, m)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r USING (lang)
        |WHERE substr(md5('balance' || lang || ':'
        |    || CAST(doc_id AS VARCHAR)), 1, 8) < r.thr""".stripMargin,

    "q_mixture_repeat" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |    substr(md5('mix' || source || ':' || CAST(doc_id AS VARCHAR)),
        |           1, 8) AS h
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |c AS (
        |  SELECT doc_id, source, lang,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 0 END
        |    + CASE WHEN h < CASE source WHEN 'src0' THEN '80000000'
        |                                WHEN 'src2' THEN '80000000'
        |                                ELSE '' END
        |           THEN 1 ELSE 0 END AS copies
        |  FROM t)
        |SELECT doc_id, source, lang,
        |  unnest(generate_series(0, copies - 1)) AS copy_id
        |FROM c WHERE copies > 0""".stripMargin,

    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, start_offset,
        |  CAST(floor(start_offset / 512) AS BIGINT) AS pack_id
        |FROM r""".stripMargin,

    "q_pack_assemble" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
        |      / 512) AS BIGINT) AS pack_id
        |  FROM t)
        |SELECT lang, pack_id, count(*) AS n_docs,
        |  length(string_agg(text, ' ' ORDER BY doc_id)) AS seq_len,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    greatest(1, CAST(floor((n_tokens - 32 + 95) / 96.0) AS BIGINT))
        |      AS nc
        |  FROM t WHERE n_tokens > 0),
        |e AS (
        |  SELECT doc_id, n_tokens,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id, chunk_id * 96 AS tok_start,
        |  least(chunk_id * 96 + 128, n_tokens) AS tok_end
        |FROM e""".stripMargin,

    "q_corpus_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || '!' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 29 = 0),
        |j AS (
        |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN n.text IS NOT DISTINCT FROM o.text THEN NULL
        |         ELSE 'changed' END AS change
        |  FROM v2 n FULL OUTER JOIN documents o ON n.doc_id = o.doc_id)
        |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT lang AS item, count(*) AS cnt
        |FROM documents WHERE lang IS NOT NULL
        |GROUP BY 1
        |HAVING count(*) > (SELECT count(*) FROM documents
        |                   WHERE lang IS NOT NULL) * 0.2""".stripMargin,

    "q_lm_score" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-1]) AS w1,
        |    unnest(t[2:len(t)]) AS w2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '') AS t
        |        FROM documents)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM c1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((n2 + 0.4) / (n1 + 0.4 * v))), 6) AS avg_logprob
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY 1""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df), 6)
        |      AS tfidf_r6
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_r6 DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf_r6, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "q_text_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |vocab AS (
        |  SELECT term, count(*) AS doc_freq,
        |    CAST(sum(tf) AS BIGINT) AS total_count
        |  FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (ORDER BY total_count DESC, term) AS freq_rank
        |  FROM vocab)
        |SELECT term, doc_freq, total_count, freq_rank
        |FROM ranked WHERE freq_rank <= 200""".stripMargin,

    // The Spark side's two-pass bucket index produces the (md5, id) rank;
    // the oracle takes the same rank with a plain global window (fine at
    // DuckDB's gate scale), then replays the integer draw verbatim.
    "q_contrastive" ->
      """WITH idx AS (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'neg'), doc_id)
        |      AS pos
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM idx),
        |draw AS (
        |  SELECT i.doc_id AS anchor, s.slot, n.n, i.pos,
        |    ((i.pos * 2654435761) % n.n + s.slot * 2246822519) % n.n + 1
        |      AS c1
        |  FROM idx i
        |  CROSS JOIN (SELECT unnest(range(1, 5)) AS slot) s
        |  CROSS JOIN n),
        |cand AS (
        |  SELECT anchor, slot,
        |    CASE WHEN c1 = pos THEN c1 % n + 1 ELSE c1 END AS cand
        |  FROM draw)
        |SELECT c.anchor, CAST(c.slot AS INT) AS slot,
        |  i.doc_id AS negative
        |FROM cand c JOIN idx i ON i.pos = c.cand""".stripMargin,

    // Same IEEE expression tree as TfIdf.bm25Retrieve (numerator written
    // tf*k1 + tf on both sides; b dyadic so 1-b folds exactly); only the
    // per-doc cross-term sum is r6-rounded.
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT
        |  (SELECT count(DISTINCT doc_id) FROM documents) AS n,
        |  (SELECT round(sum(dl), 4) / count(*) FROM dl) AS avgdl),
        |m AS (
        |  SELECT t.doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |      * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
        |      / (CAST(tf AS DOUBLE)
        |         + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
        |  FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id), st
        |  WHERE term IN ('spark', 'join', 'window'))
        |SELECT doc_id, round(sum(s), 6) AS bm25_r6, count(*) AS n_matched
        |FROM m GROUP BY 1
        |ORDER BY bm25_r6 DESC, doc_id
        |LIMIT 50""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |vocab AS (
        |  SELECT term, CAST(sum(tf) AS BIGINT) AS total_count
        |  FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (ORDER BY total_count DESC, term) AS freq_rank
        |  FROM vocab),
        |ns AS (SELECT unnest([10, 50, 100, 500]) AS top_n)
        |SELECT CAST(top_n AS INT) AS top_n,
        |  CAST(sum(CASE WHEN freq_rank <= top_n THEN total_count
        |           ELSE 0 END) AS BIGINT) AS covered_tokens,
        |  CAST(sum(total_count) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN freq_rank <= top_n THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_vocab_terms,
        |  CAST(sum(CASE WHEN freq_rank <= top_n THEN total_count
        |           ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(total_count) AS DOUBLE) AS coverage
        |FROM ranked CROSS JOIN ns
        |GROUP BY top_n""".stripMargin,

    // The oracle replays the tie-corrected Mann-Whitney rank sum with a
    // plain cumulative window (no scale constraint in DuckDB); the
    // numerator/denominator are exact int64 on both sides so the single
    // divide is bit-identical.
    "q_auc" ->
      """WITH s AS (
        |  SELECT vec_id % 4 AS fold,
        |    CAST(embedding[1] AS DOUBLE) AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |g AS (
        |  SELECT fold, score, count(*) AS n, sum(pos) AS p
        |  FROM s GROUP BY 1, 2),
        |w AS (
        |  SELECT fold, n, p,
        |    coalesce(sum(n) OVER (PARTITION BY fold ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM g)
        |SELECT fold, CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(n - p) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(p) = 0 OR sum(n - p) = 0 THEN NULL
        |    ELSE CAST(sum(p * (2 * c + n + 1)) - sum(p) * (sum(p) + 1)
        |        AS DOUBLE)
        |      / CAST(2 * sum(p) * sum(n - p) AS DOUBLE) END AS auc
        |FROM w GROUP BY 1""".stripMargin,

    "q_pr_curve" ->
      """WITH s AS (
        |  SELECT vec_id % 2 AS fold,
        |    CAST(embedding[1] AS DOUBLE) AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |t AS (SELECT unnest([-0.3, -0.1, 0.0, 0.1, 0.3]) AS threshold),
        |c AS (
        |  SELECT fold, threshold,
        |    CAST(sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score >= threshold THEN 1 - pos ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score < threshold THEN pos ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN score < threshold THEN 1 - pos ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM s, t GROUP BY 1, 2)
        |SELECT fold, threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
        |    AS "precision",
        |  CASE WHEN tp + fn = 0 THEN NULL
        |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
        |    AS recall,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
        |    ELSE CAST(2 * tp AS DOUBLE)
        |      / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
        |FROM c""".stripMargin,

    // u-probabilities are exact-int frequency products; the disagree
    // weight's numerator must be written (1.0 - 0.9) — the runtime
    // subtraction (0.09999999999999998), never the 0.1 literal.
    "q_linkage" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket
        |  FROM customer),
        |a0 AS (SELECT * FROM c WHERE c_custkey % 2 = 0),
        |b0 AS (SELECT * FROM c WHERE c_custkey % 2 = 1),
        |a AS (SELECT a0.* FROM a0 JOIN (
        |  SELECT c_nationkey FROM a0 GROUP BY 1
        |  HAVING count(*) <= 10000) ka USING (c_nationkey)),
        |b AS (SELECT b0.* FROM b0 JOIN (
        |  SELECT c_nationkey FROM b0 GROUP BY 1
        |  HAVING count(*) <= 10000) kb USING (c_nationkey)),
        |na AS (SELECT count(*) AS n FROM a),
        |nb AS (SELECT count(*) AS n FROM b),
        |u1 AS (
        |  SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS num FROM
        |    (SELECT c_mktsegment AS v, count(*) AS ca FROM a GROUP BY 1) x
        |    JOIN (SELECT c_mktsegment AS v, count(*) AS cb FROM b
        |          GROUP BY 1) y USING (v)),
        |u2 AS (
        |  SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS num FROM
        |    (SELECT bal_bucket AS v, count(*) AS ca FROM a GROUP BY 1) x
        |    JOIN (SELECT bal_bucket AS v, count(*) AS cb FROM b
        |          GROUP BY 1) y USING (v)),
        |u AS (
        |  SELECT CAST(u1.num AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE)
        |      AS useg,
        |    CAST(u2.num AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE) AS ubal
        |  FROM u1, u2, na, nb)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
        |    AS agree_c_mktsegment,
        |  a.bal_bucket IS NOT DISTINCT FROM b.bal_bucket AS agree_bal_bucket,
        |  round(
        |    (CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
        |      THEN ln(0.9 / useg)
        |      ELSE ln((1.0 - 0.9) / (1.0 - useg)) END)
        |    + (CASE WHEN a.bal_bucket IS NOT DISTINCT FROM b.bal_bucket
        |      THEN ln(0.9 / ubal)
        |      ELSE ln((1.0 - 0.9) / (1.0 - ubal)) END), 6) AS score,
        |  CAST((CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM
        |      b.c_mktsegment THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.bal_bucket IS NOT DISTINCT FROM b.bal_bucket
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |FROM a JOIN b ON a.c_nationkey = b.c_nationkey, u""".stripMargin,

    // Sessions replay q_sessionize's CTEs; the KM product runs as
    // exp(cumulative ln-sum) in fixed duration order, with the d = n_risk
    // wipe-out state pinned to 0.0 by an integer flag (ln 0 is NULL in
    // Spark but -inf in DuckDB — neither is allowed to matter).
    "q_survival" ->
      s"""WITH x AS (SELECT user_id, $TS AS tts, event_id FROM events),
         |y AS (SELECT *, CASE WHEN epoch_us(tts) - lag(epoch_us(tts))
         |    OVER (PARTITION BY user_id ORDER BY tts, event_id)
         |    > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
         |z AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING)
         |    AS session_idx FROM y),
         |hz AS (SELECT max(epoch_us(tts)) AS h FROM x),
         |sess AS (
         |  SELECT user_id % 2 AS cohort,
         |    (epoch_us(max(tts)) - epoch_us(min(tts))) // 60000000 AS t,
         |    CASE WHEN epoch_us(max(tts)) + 1800000000 <= hz.h
         |      THEN 1 ELSE 0 END AS obs
         |  FROM z, hz GROUP BY user_id, session_idx, hz.h),
         |g AS (
         |  SELECT cohort, t, CAST(sum(obs) AS BIGINT) AS d,
         |    CAST(sum(1 - obs) AS BIGINT) AS c
         |  FROM sess GROUP BY 1, 2),
         |tot AS (SELECT cohort, sum(d + c) AS tt FROM g GROUP BY 1),
         |w AS (
         |  SELECT g.*, CAST(tt - coalesce(sum(d + c) OVER
         |    (PARTITION BY g.cohort ORDER BY t
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS n_risk
         |  FROM g JOIN tot ON g.cohort = tot.cohort),
         |f AS (
         |  SELECT *,
         |    sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY cohort ORDER BY t
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
         |    sum(CASE WHEN d = n_risk THEN 0.0
         |      ELSE ln(CAST(n_risk - d AS DOUBLE)
         |        / CAST(n_risk AS DOUBLE)) END) OVER
         |      (PARTITION BY cohort ORDER BY t
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
         |  FROM w)
         |SELECT cohort, t, n_risk, d, c,
         |  CASE WHEN dead > 0 THEN 0.0 ELSE round(exp(lnsum), 6) END
         |    AS survival
         |FROM f""".stripMargin,

    "q_calibration" ->
      """WITH s AS (
        |  SELECT vec_id % 2 AS fold,
        |    CAST(embedding[1] AS DOUBLE) AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings)
        |SELECT fold,
        |  CAST(least(greatest(floor((score - (-0.5)) / 0.1), 0.0), 9.0)
        |    AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  round(-0.5 + CAST(least(greatest(floor((score - (-0.5)) / 0.1),
        |    0.0), 9.0) AS INT) * 0.1, 6) AS bin_lo,
        |  round(-0.5 + (CAST(least(greatest(floor((score - (-0.5)) / 0.1),
        |    0.0), 9.0) AS INT) + 1) * 0.1, 6) AS bin_hi,
        |  CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
        |  round(sum(score), 6) / CAST(count(*) AS DOUBLE) AS mean_score
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_zipf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |vocab AS (
        |  SELECT term, CAST(sum(tf) AS BIGINT) AS total_count
        |  FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT total_count, row_number() OVER
        |    (ORDER BY total_count DESC, term) AS freq_rank
        |  FROM vocab),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks),
        |kp1 AS (SELECT total_count AS fk1 FROM ranked WHERE freq_rank = 21),
        |t1 AS (SELECT total_count AS f1 FROM ranked WHERE freq_rank = 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    round(sum(ln(CAST(total_count AS DOUBLE)))
        |      - 20.0 * ln(CAST(fk1 AS DOUBLE)), 6) AS den
        |  FROM ranked, kp1 WHERE freq_rank <= 20 GROUP BY fk1)
        |SELECT k,
        |  CASE WHEN k < 20 OR den <= 0.0 THEN NULL
        |    ELSE round(1.0 + 20.0 / den, 6) END AS alpha,
        |  CASE WHEN k < 20 OR den <= 0.0 THEN NULL
        |    ELSE round(den / 20.0, 6) END AS zipf_s,
        |  CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top1_share,
        |  n_tokens
        |FROM agg, tot, t1""".stripMargin,

    // MI = ln N + (Σ_ab n ln n − Σ_a n ln n − Σ_b n ln n) / N — the same
    // exact-count entropy form as q_entropy, r6 on every output.
    "q_mutual_info" ->
      """WITH p AS (
        |  SELECT doc_id % 2 AS split, lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT split, CAST(sum(n) AS BIGINT) AS t,
        |    sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS sab
        |  FROM p GROUP BY 1),
        |ma AS (
        |  SELECT split, sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)))
        |    AS sa, count(*) AS ca
        |  FROM (SELECT split, lang, sum(n) AS m FROM p GROUP BY 1, 2)
        |  GROUP BY 1),
        |mb AS (
        |  SELECT split, sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)))
        |    AS sb, count(*) AS cb
        |  FROM (SELECT split, source, sum(n) AS m FROM p GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT j.split, t AS n_rows,
        |  round(ln(CAST(t AS DOUBLE)) - sa / t, 6) AS h_a,
        |  round(ln(CAST(t AS DOUBLE)) - sb / t, 6) AS h_b,
        |  round(ln(CAST(t AS DOUBLE)) - sab / t, 6) AS h_ab,
        |  round(ln(CAST(t AS DOUBLE)) + (sab - sa - sb) / t, 6) AS mi,
        |  CASE WHEN ca = 1 AND cb = 1 THEN NULL
        |    ELSE round(2.0 * (ln(CAST(t AS DOUBLE)) + (sab - sa - sb) / t)
        |      / ((ln(CAST(t AS DOUBLE)) - sa / t)
        |        + (ln(CAST(t AS DOUBLE)) - sb / t)), 6) END AS nmi
        |FROM j JOIN ma ON j.split = ma.split
        |JOIN mb ON j.split = mb.split""".stripMargin,

    // All-integer chance correction: kappa's single divide runs on
    // N·agree − Σ ra·rb over N² − Σ ra·rb, exact int64 on both sides.
    "q_kappa" ->
      """WITH d AS (
        |  SELECT doc_id % 2 AS split,
        |    CASE WHEN n_chars < 150 THEN 'short'
        |      WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS ra,
        |    CASE WHEN len(string_split(text, ' ')) < 30 THEN 'short'
        |      WHEN len(string_split(text, ' ')) < 70 THEN 'mid'
        |      ELSE 'long' END AS rb
        |  FROM documents),
        |p AS (SELECT split, ra, rb, count(*) AS n FROM d GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT split, CAST(sum(n) AS BIGINT) AS n_items,
        |    CAST(sum(CASE WHEN ra = rb THEN n ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM p GROUP BY 1),
        |ma AS (SELECT split, ra AS c, CAST(sum(n) AS BIGINT) AS m
        |  FROM p GROUP BY 1, 2),
        |mb AS (SELECT split, rb AS c, CAST(sum(n) AS BIGINT) AS m
        |  FROM p GROUP BY 1, 2),
        |pp AS (
        |  SELECT ma.split, CAST(sum(ma.m * mb.m) AS BIGINT) AS pp
        |  FROM ma JOIN mb ON ma.split = mb.split AND ma.c = mb.c
        |  GROUP BY 1)
        |SELECT t.split, n_items,
        |  CAST(agree AS DOUBLE) / CAST(n_items AS DOUBLE) AS po,
        |  CAST(coalesce(pp, 0) AS DOUBLE)
        |    / CAST(n_items * n_items AS DOUBLE) AS pe,
        |  CASE WHEN n_items * n_items = coalesce(pp, 0) THEN NULL
        |    ELSE CAST(n_items * agree - coalesce(pp, 0) AS DOUBLE)
        |      / CAST(n_items * n_items - coalesce(pp, 0) AS DOUBLE)
        |  END AS kappa
        |FROM t LEFT JOIN pp ON t.split = pp.split""".stripMargin,

    // rel·ln2/ln(p+1) with ln2 as the shared literal; r6 on the two
    // cross-term sums, the ndcg divide runs on the rounded pair.
    "q_ndcg" ->
      """WITH s AS (
        |  SELECT vec_id % 4 AS fold,
        |    CAST(embedding[1] AS DOUBLE) AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS rel, vec_id
        |  FROM embeddings),
        |r AS (
        |  SELECT fold, rel,
        |    row_number() OVER (PARTITION BY fold
        |      ORDER BY score DESC, vec_id) AS p,
        |    row_number() OVER (PARTITION BY fold
        |      ORDER BY rel DESC, vec_id) AS q
        |  FROM s),
        |a AS (
        |  SELECT fold,
        |    round(sum(CASE WHEN p <= 10 THEN
        |      CAST(rel AS DOUBLE) * 0.6931471805599453
        |        / ln(CAST(p + 1 AS DOUBLE)) ELSE 0 END), 6) AS dcg,
        |    round(sum(CASE WHEN q <= 10 THEN
        |      CAST(rel AS DOUBLE) * 0.6931471805599453
        |        / ln(CAST(q + 1 AS DOUBLE)) ELSE 0 END), 6) AS idcg,
        |    CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM r GROUP BY 1)
        |SELECT fold, dcg, idcg, n_candidates,
        |  CASE WHEN idcg = 0 THEN NULL ELSE dcg / idcg END AS ndcg
        |FROM a""".stripMargin,

    // Two-proportion z: exact counts, one IEEE tree for z — identical
    // doubles on both engines, NULL at empty arms / zero variance.
    "q_ab_test" ->
      """WITH c AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN c_custkey % 2 = 0 AND c_acctbal > 5000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS succ_a,
        |    CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN c_custkey % 2 = 1 AND c_acctbal > 5000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS succ_b
        |  FROM customer GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    CASE WHEN n_a = 0 THEN NULL
        |      ELSE CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE) END
        |      AS rate_a,
        |    CASE WHEN n_b = 0 THEN NULL
        |      ELSE CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE) END
        |      AS rate_b
        |  FROM c)
        |SELECT c_mktsegment, n_a, succ_a, n_b, succ_b, rate_a, rate_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR succ_a + succ_b = 0
        |      OR succ_a + succ_b = n_a + n_b THEN NULL
        |    ELSE (rate_b - rate_a) / sqrt(
        |      (CAST(succ_a + succ_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(succ_a + succ_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM r""".stripMargin,

    // Association rules: every metric a single divide of exact counts;
    // the oracle derives the same distinct-(group, item) frame and the
    // same ≤1000-distinct-brands cap (a no-op at 25 brands, mirrored
    // for fidelity).
    "q_assoc_rules" ->
      """WITH t AS (
        |  SELECT DISTINCT l_orderkey AS g, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |ok AS (SELECT g FROM t GROUP BY g HAVING count(*) <= 1000),
        |tt AS (SELECT t.g, t.i FROM t JOIN ok USING (g)),
        |n AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM tt),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni
        |  FROM tt GROUP BY 1),
        |pr AS (
        |  SELECT a.i AS id1, b.i AS id2, CAST(count(*) AS BIGINT) AS w
        |  FROM tt a JOIN tt b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT id1, id2, w,
        |  CAST(w AS DOUBLE) / CAST(n.n AS DOUBLE) AS support,
        |  CAST(w AS DOUBLE) / CAST(ia.ni AS DOUBLE) AS conf_1_to_2,
        |  CAST(w AS DOUBLE) / CAST(ib.ni AS DOUBLE) AS conf_2_to_1,
        |  CAST(w * n.n AS DOUBLE) / CAST(ia.ni * ib.ni AS DOUBLE) AS lift
        |FROM pr JOIN ic ia ON pr.id1 = ia.i
        |JOIN ic ib ON pr.id2 = ib.i CROSS JOIN n""".stripMargin,

    // Quantile normalization: identical (value, id) total order on the
    // input side; reference ties map to one value so its tie order is
    // free. Target rank = ceil(r·m/n) in integer arithmetic.
    "q_quantile_norm" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS r
        |  FROM documents WHERE lang <> 'en'),
        |ref AS (
        |  SELECT n_chars AS n_chars_norm,
        |    row_number() OVER (ORDER BY n_chars) AS j
        |  FROM documents WHERE lang = 'en'),
        |n AS (SELECT count(*) AS n FROM s),
        |m AS (SELECT count(*) AS m FROM ref)
        |SELECT s.doc_id, s.lang, s.n_chars, ref.n_chars_norm
        |FROM s CROSS JOIN n CROSS JOIN m
        |JOIN ref ON ref.j = (s.r * m.m + n.n - 1) // n.n""".stripMargin,

    // Key-skew audit: the oracle ranks counts with one plain window
    // (no scale constraint in DuckDB; the Spark side uses the banded
    // two-pass rank) — identical (count, key-string) total order, so
    // Σ i·c and every rank cut match exactly.
    "q_key_skew" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_partkey AS k, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT l_returnflag, c,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY c, CAST(k AS VARCHAR)) AS i
        |  FROM c),
        |t AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(max(c) AS BIGINT) AS max_key_rows
        |  FROM c GROUP BY 1),
        |a AS (
        |  SELECT r.l_returnflag,
        |    CAST(sum(r.i * r.c) AS BIGINT) AS sic,
        |    CAST(min(CASE WHEN r.i >= (t.n_keys + 1) // 2
        |      THEN r.c END) AS BIGINT) AS p50_rows,
        |    CAST(min(CASE WHEN r.i >= (9 * t.n_keys + 9) // 10
        |      THEN r.c END) AS BIGINT) AS p90_rows,
        |    CAST(min(CASE WHEN r.i >= (99 * t.n_keys + 99) // 100
        |      THEN r.c END) AS BIGINT) AS p99_rows
        |  FROM r JOIN t ON r.l_returnflag = t.l_returnflag
        |  GROUP BY 1),
        |res AS (
        |  SELECT t.l_returnflag, t.n_keys, t.n_rows, t.max_key_rows,
        |    a.p50_rows, a.p90_rows, a.p99_rows,
        |    CAST(t.n_rows AS DOUBLE) / CAST(t.n_keys AS DOUBLE)
        |      AS mean_key_rows,
        |    CAST(t.max_key_rows AS DOUBLE) / CAST(t.n_rows AS DOUBLE)
        |      AS top1_share,
        |    CASE WHEN t.n_keys = 1 THEN 0.0
        |      ELSE CAST(2 * a.sic AS DOUBLE)
        |          / CAST(t.n_keys * t.n_rows AS DOUBLE)
        |        - CAST(t.n_keys + 1 AS DOUBLE) / CAST(t.n_keys AS DOUBLE)
        |    END AS gini
        |  FROM t JOIN a ON t.l_returnflag = a.l_returnflag)
        |SELECT * FROM res""".stripMargin,

    // Seasonal decomposition: the oracle replays the same half-weight
    // centered-MA trend, position means, and centering — every
    // cross-row sum r6-rounded before its divide on both sides.
    "q_seasonal" ->
      s"""WITH s AS (
         |  SELECT event_id, event_type, $TS AS t, value
         |  FROM events WHERE value IS NOT NULL),
         |b AS (
         |  SELECT event_id, event_type, value,
         |    CAST((row_number() OVER w - 1) % 24 AS INTEGER)
         |      AS period_pos,
         |    CASE WHEN count(value) OVER f = 25
         |        AND lag(value, 12) OVER w IS NOT NULL
         |        AND lead(value, 12) OVER w IS NOT NULL
         |      THEN round((round(sum(value) OVER f, 6)
         |        - 0.5 * (lag(value, 12) OVER w + lead(value, 12) OVER w))
         |        / 24.0, 6)
         |    END AS trend
         |  FROM s
         |  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id),
         |    f AS (PARTITION BY event_type ORDER BY t, event_id
         |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         |d AS (SELECT *, value - trend AS detr FROM b),
         |sr AS (
         |  SELECT event_type, period_pos,
         |    round(sum(detr), 6) / count(*) AS sraw
         |  FROM d WHERE detr IS NOT NULL GROUP BY 1, 2),
         |sc AS (
         |  SELECT event_type, period_pos,
         |    round(sraw - round(sum(sraw) OVER (PARTITION BY event_type), 6)
         |      / count(*) OVER (PARTITION BY event_type), 6) AS seasonal
         |  FROM sr)
         |SELECT d.event_id, d.event_type, d.value, d.period_pos, d.trend,
         |  sc.seasonal, d.detr - sc.seasonal AS residual
         |FROM d LEFT JOIN sc ON d.event_type = sc.event_type
         |  AND d.period_pos = sc.period_pos""".stripMargin,

    // Bradley-Terry: the oracle unrolls the 3 MM rounds as chained
    // CTEs; every step is integral (// = DIV on positives), S = 1e6
    // score units against P = 1e9 denominator precision, scores capped
    // at S·2³ — the exact recurrence the Spark loop runs.
    "q_preference" ->
      """WITH bs AS (
        |  SELECT l_orderkey, p_brand, count(*) AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |keys AS (
        |  SELECT l_orderkey,
        |    lpad(CAST(n AS VARCHAR), 10, '0') || '|' || p_brand AS key
        |  FROM bs),
        |votes AS (
        |  SELECT split_part(max(key), '|', 2) AS w,
        |    split_part(min(key), '|', 2) AS l
        |  FROM keys GROUP BY l_orderkey
        |  HAVING max(key) <> min(key)),
        |e AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS m FROM (
        |    SELECT w AS a, l AS b FROM votes
        |    UNION ALL SELECT l AS a, w AS b FROM votes)
        |  GROUP BY 1, 2),
        |wn AS (SELECT w AS id, CAST(count(*) AS BIGINT) AS wins
        |  FROM votes GROUP BY 1),
        |w0 AS (
        |  SELECT i.id, coalesce(wn.wins, 0) AS wins,
        |    CAST(1000000 AS BIGINT) AS s
        |  FROM (SELECT DISTINCT a AS id FROM e) i
        |  LEFT JOIN wn ON i.id = wn.id),
        |d1 AS (
        |  SELECT e.a AS id, CAST(sum((e.m * 1000000000)
        |    // greatest(wa.s + wb.s, 1)) AS BIGINT) AS d
        |  FROM e JOIN w0 wa ON e.a = wa.id JOIN w0 wb ON e.b = wb.id
        |  GROUP BY 1),
        |w1 AS (
        |  SELECT w0.id, w0.wins, CAST(least((w0.wins * 1000000000)
        |    // greatest(d1.d, 1), 8000000) AS BIGINT) AS s
        |  FROM w0 JOIN d1 ON w0.id = d1.id),
        |d2 AS (
        |  SELECT e.a AS id, CAST(sum((e.m * 1000000000)
        |    // greatest(wa.s + wb.s, 1)) AS BIGINT) AS d
        |  FROM e JOIN w1 wa ON e.a = wa.id JOIN w1 wb ON e.b = wb.id
        |  GROUP BY 1),
        |w2 AS (
        |  SELECT w1.id, w1.wins, CAST(least((w1.wins * 1000000000)
        |    // greatest(d2.d, 1), 8000000) AS BIGINT) AS s
        |  FROM w1 JOIN d2 ON w1.id = d2.id),
        |d3 AS (
        |  SELECT e.a AS id, CAST(sum((e.m * 1000000000)
        |    // greatest(wa.s + wb.s, 1)) AS BIGINT) AS d
        |  FROM e JOIN w2 wa ON e.a = wa.id JOIN w2 wb ON e.b = wb.id
        |  GROUP BY 1),
        |w3 AS (
        |  SELECT w2.id, w2.wins, CAST(least((w2.wins * 1000000000)
        |    // greatest(d3.d, 1), 8000000) AS BIGINT) AS s
        |  FROM w2 JOIN d3 ON w2.id = d3.id),
        |nc AS (SELECT a AS id, CAST(sum(m) AS BIGINT) AS n_comparisons
        |  FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM w3)
        |SELECT w3.id AS item, w3.wins AS n_wins, nc.n_comparisons,
        |  w3.s AS strength,
        |  CAST(w3.s AS DOUBLE) / CAST(t AS DOUBLE) AS share
        |FROM w3 JOIN nc ON w3.id = nc.id CROSS JOIN tot""".stripMargin,

    // Stage 1 replays q_text_bm25's CTEs to the LIMIT 20 shortlist;
    // stage 2 scores it with the docSimilarity fixed-point weights (no
    // df cap here — the shortlist bounds the work, not the vocabulary).
    "q_retrieve_rerank" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT
        |  (SELECT count(DISTINCT doc_id) FROM documents) AS n,
        |  (SELECT round(sum(dl), 4) / count(*) FROM dl) AS avgdl),
        |m AS (
        |  SELECT t.doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |      * (CAST(tf AS DOUBLE) * 1.2 + CAST(tf AS DOUBLE))
        |      / (CAST(tf AS DOUBLE)
        |         + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
        |  FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id), st
        |  WHERE term IN ('spark', 'join', 'window')),
        |cand AS (
        |  SELECT doc_id, round(sum(s), 6) AS bm25_r6,
        |    count(*) AS n_matched
        |  FROM m GROUP BY 1
        |  ORDER BY bm25_r6 DESC, doc_id LIMIT 20),
        |w AS (
        |  SELECT doc_id, term,
        |    CAST(tf * round(ln(CAST(st.n AS DOUBLE) / df) * 1000)
        |      AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
        |wf AS (SELECT * FROM w WHERE w <> 0),
        |cw AS (SELECT wf.* FROM wf JOIN cand USING (doc_id)),
        |qw AS (
        |  SELECT term,
        |    CAST(round(ln(CAST(st.n AS DOUBLE) / df) * 1000) AS BIGINT)
        |      AS qw
        |  FROM dfq CROSS JOIN st
        |  WHERE term IN ('spark', 'join', 'window')
        |    AND CAST(round(ln(CAST(st.n AS DOUBLE) / df) * 1000) AS BIGINT)
        |        <> 0),
        |ssq AS (SELECT CAST(sum(qw * qw) AS BIGINT) AS ssq FROM qw),
        |dots AS (
        |  SELECT doc_id, CAST(sum(w * qw) AS BIGINT) AS dot
        |  FROM cw JOIN qw USING (term) GROUP BY 1),
        |norms AS (
        |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS ssd
        |  FROM cw GROUP BY 1)
        |SELECT c.doc_id, c.bm25_r6, c.n_matched,
        |  round(CAST(dot AS DOUBLE)
        |    / nullif(sqrt(CAST(ssd AS DOUBLE)) * sqrt(CAST(ssq AS DOUBLE)),
        |             0.0), 6) AS rerank_cosine
        |FROM cand c
        |LEFT JOIN dots USING (doc_id)
        |LEFT JOIN norms USING (doc_id)
        |CROSS JOIN ssq""".stripMargin,

    // Fixed-point weights (see TfIdf.docSimilarity): every dot/ss is an
    // exact BIGINT, the cosine a single double expression over them —
    // bit-identical, so the full ranked output hash-compares.
    "q_text_tfidf_sim" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |w AS (
        |  SELECT doc_id, term,
        |    CAST(tf * round(ln(CAST(n.n AS DOUBLE) / df) * 1000) AS BIGINT)
        |      AS w
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  WHERE df <= 1000),
        |wf AS (SELECT * FROM w WHERE w <> 0),
        |ss AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS ss
        |       FROM wf GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |  FROM wf a JOIN wf b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT id1, id2, dot,
        |    CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(s1.ss AS DOUBLE)) * sqrt(CAST(s2.ss AS DOUBLE)))
        |      AS c
        |  FROM dots
        |  JOIN ss s1 ON s1.doc_id = id1
        |  JOIN ss s2 ON s2.doc_id = id2),
        |sym AS (
        |  SELECT id1 AS src_id, id2 AS dst_id, dot, c FROM cos
        |  UNION ALL
        |  SELECT id2, id1, dot, c FROM cos),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY src_id ORDER BY c DESC, dst_id) AS rank
        |  FROM sym)
        |SELECT src_id, dst_id, dot, round(c, 6) AS cosine_sim, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // ASCII-only scope (lang='en'): DuckDB levenshtein counts bytes,
    // Spark counts codepoints — identical on ASCII (see qDedupEditdist)
    "q_dedup_editdist" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        | levenshtein(a.text, b.text) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.lang = 'en' AND b.lang = 'en' AND a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 10
        |WHERE levenshtein(a.text, b.text) <= 10""".stripMargin,

    "q_range_join" ->
      """SELECT p.o_orderkey, p.o_orderdate, i.period_id
        |FROM (SELECT o_orderkey, o_orderdate FROM orders) p
        |JOIN (SELECT o_orderkey AS period_id,
        |        o_orderdate AS period_start,
        |        o_orderdate + INTERVAL 14 DAYS AS period_end
        |      FROM orders WHERE o_orderkey % 149 = 0) i
        |  ON p.o_orderdate >= i.period_start
        | AND p.o_orderdate <= i.period_end""".stripMargin,

    "q_asof_join" ->
      s"""WITH quotes AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 1 HOUR, $TS) + INTERVAL 1 HOUR
         |      AS quote_ts,
         |    round(sum(value), 4) / count(*) AS hour_ma,
         |    count(*) AS hour_n
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_id, event_type, $TS AS ts, value FROM events)
         |SELECT l.event_id, l.event_type, l.ts, l.value,
         |  q.hour_ma AS asof_hour_ma, q.hour_n AS asof_hour_n
         |FROM l ASOF LEFT JOIN quotes q
         |  ON l.event_type = q.event_type AND l.ts >= q.quote_ts"""
        .stripMargin,

    // identical oracle to q_asof_join: composition, custom exec, and
    // DuckDB's native ASOF must agree
    "q_asof_join_native" ->
      s"""WITH quotes AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 1 HOUR, $TS) + INTERVAL 1 HOUR
         |      AS quote_ts,
         |    round(sum(value), 4) / count(*) AS hour_ma,
         |    count(*) AS hour_n
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_id, event_type, $TS AS ts, value FROM events)
         |SELECT l.event_id, l.event_type, l.ts, l.value,
         |  q.hour_ma AS asof_hour_ma, q.hour_n AS asof_hour_n
         |FROM l ASOF LEFT JOIN quotes q
         |  ON l.event_type = q.event_type AND l.ts >= q.quote_ts"""
        .stripMargin,

    "q_asof_fwd" ->
      s"""WITH quotes AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 1 HOUR, $TS) + INTERVAL 1 HOUR
         |      AS quote_ts,
         |    round(sum(value), 4) / count(*) AS hour_ma,
         |    count(*) AS hour_n
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_id, event_type, $TS AS ts, value FROM events)
         |SELECT l.event_id, l.event_type, l.ts, l.value,
         |  q.hour_ma AS asof_hour_ma, q.hour_n AS asof_hour_n
         |FROM l ASOF LEFT JOIN quotes q
         |  ON l.event_type = q.event_type AND l.ts <= q.quote_ts"""
        .stripMargin,

    // nearest = CASE over the two native directional ASOFs on exact µs
    // distances; equidistant (and exact-instant) ties go backward.
    "q_asof_nearest" ->
      s"""WITH quotes AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 1 HOUR, $TS) + INTERVAL 1 HOUR
         |      AS quote_ts,
         |    round(sum(value), 4) / count(*) AS hour_ma,
         |    count(*) AS hour_n
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_id, event_type, $TS AS ts, value FROM events),
         |bk AS (SELECT l.event_id, q.quote_ts AS bts, q.hour_ma AS bma,
         |         q.hour_n AS bn
         |       FROM l ASOF LEFT JOIN quotes q
         |         ON l.event_type = q.event_type AND l.ts >= q.quote_ts),
         |fw AS (SELECT l.event_id, q.quote_ts AS fts, q.hour_ma AS fma,
         |         q.hour_n AS fn
         |       FROM l ASOF LEFT JOIN quotes q
         |         ON l.event_type = q.event_type AND l.ts <= q.quote_ts)
         |SELECT l.event_id, l.event_type, l.ts, l.value,
         |  CASE WHEN bts IS NOT NULL AND (fts IS NULL
         |         OR epoch_us(l.ts) - epoch_us(bts)
         |            <= epoch_us(fts) - epoch_us(l.ts))
         |       THEN bma ELSE fma END AS asof_hour_ma,
         |  CASE WHEN bts IS NOT NULL AND (fts IS NULL
         |         OR epoch_us(l.ts) - epoch_us(bts)
         |            <= epoch_us(fts) - epoch_us(l.ts))
         |       THEN bn ELSE fn END AS asof_hour_n,
         |  CASE WHEN bts IS NOT NULL AND (fts IS NULL
         |         OR epoch_us(l.ts) - epoch_us(bts)
         |            <= epoch_us(fts) - epoch_us(l.ts))
         |       THEN 'backward'
         |       WHEN fts IS NOT NULL THEN 'forward'
         |       ELSE NULL END AS asof_dir
         |FROM l JOIN bk USING (event_id) JOIN fw USING (event_id)"""
        .stripMargin,

    "q_merge_upsert" -> mergeUpsertOracle,
    // the pruned-disk and versioned-table merges must be ROW-IDENTICAL to
    // the logical full upsert — same oracle text for all three
    "q_merge_upsert_pruned" -> mergeUpsertOracle,
    "q_merge_upsert_pruned2" -> mergeUpsertOracle,
    "q_merge_versioned" -> mergeUpsertOracle,

    // The materialized view serves exactly GROUP BY over the merged
    // final state (BIGINT sum is order-exact; min/max are value-exact),
    // however incrementally the engine maintained it.
    "q_matview" ->
      s"""WITH final AS ($mergeUpsertOracle)
         |SELECT event_type,
         |  CAST(sum(daily_volume) AS BIGINT) AS vol_sum,
         |  count(*) AS n_days
         |FROM final GROUP BY 1""".stripMargin,

    "q_matview_minmax" ->
      s"""WITH final AS ($mergeUpsertOracle)
         |SELECT event_type, min(daily_low) AS low_min,
         |  max(daily_high) AS high_max, count(*) AS n_days
         |FROM final GROUP BY 1""".stripMargin,

    // AVG is exactly oracled (long sums are order-exact; one division);
    // the HLL distinct estimate is engine detail — its correctness is
    // the in-query bracket flag (q_hll_incremental pattern)
    "q_matview_avg_distinct" ->
      s"""WITH final AS ($mergeUpsertOracle)
         |SELECT event_type, round(avg(daily_volume), 6) AS vol_avg,
         |  count(*) AS n_days, true AS dct_ok
         |FROM final GROUP BY 1""".stripMargin,

    // The join view serves exactly the aggregate of the FINAL
    // fact ⋈ dim state (int64 cents sums are order-exact; avg is one
    // division) — however incrementally the two change feeds
    // maintained it. The CASE arms replay the two surgical updates.
    "q_matview_join" ->
      """WITH fact AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 50 = 0 THEN (c_nationkey + 7) % 25
        |         ELSE c_nationkey END AS nk,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) +
        |      CASE WHEN c_custkey % 10 = 0 THEN 100000 ELSE 0 END
        |      AS bal_cents
        |  FROM customer),
        |dim AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey = 3 THEN 'RENAMED' ELSE n_name END
        |      AS n_name
        |  FROM nation)
        |SELECT n_name, CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
        |  round(avg(bal_cents), 6) AS bal_avg, count(*) AS n_cust
        |FROM fact JOIN dim ON nk = n_nationkey
        |GROUP BY 1""".stripMargin,

    // the synced destination pair equals the sources' final state —
    // however the cycles, crash, and replay interleaved
    "q_snapshot_sync" ->
      """WITH fact AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |dim AS (SELECT n_nationkey, n_name FROM nation)
        |SELECT n_name, CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
        |  count(*) AS n_cust
        |FROM fact JOIN dim ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    // the atomic pair's FINAL state is the full recompute, however the
    // crashed cycle was recovered — both aggregates from raw events
    "q_multi_txn" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, user_id
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n_events,
        |    CAST(sum(user_id) AS BIGINT) AS sum_users
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date,
        |    count(*) AS n_day
        |  FROM e GROUP BY 1, 2)
        |SELECT s.event_type, d.date, s.n_events, s.sum_users, d.n_day
        |FROM s JOIN d ON s.event_type = d.event_type""".stripMargin,

    // same final state as q_multi_txn: the SQL-transaction MERGE pair's
    // recovery lands the full recompute, however the cycle crashed
    "q_multi_txn_merge" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, user_id
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n_events,
        |    CAST(sum(user_id) AS BIGINT) AS sum_users
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date,
        |    count(*) AS n_day
        |  FROM e GROUP BY 1, 2)
        |SELECT s.event_type, d.date, s.n_events, s.sum_users, d.n_day
        |FROM s JOIN d ON s.event_type = d.event_type""".stripMargin,

    // branch WAP cycle: final main = branch's late window (>= Jan 21,
    // even users) + main's concurrent %3 recompute (<= Jan 10) + the
    // untouched middle of v0
    "q_versioned_branch" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2),
         |target AS (SELECT * FROM daily_all WHERE date <= DATE '2024-01-20'),
         |br_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2),
         |br AS (SELECT * FROM br_all WHERE date >= DATE '2024-01-21'),
         |main_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events WHERE user_id % 3 = 0 GROUP BY 1, 2),
         |main_upd AS (SELECT * FROM main_all WHERE date <= DATE '2024-01-10')
         |SELECT * FROM br
         |UNION ALL
         |SELECT * FROM main_upd
         |UNION ALL
         |SELECT t.* FROM target t WHERE NOT EXISTS (
         |  SELECT 1 FROM main_upd u
         |  WHERE u.event_type = t.event_type AND u.date = t.date)"""
        .stripMargin,
    // CDF replay: both version row sets recomputed independently, then
    // diffed. Content compare runs on RAW (unrounded) values — exactly
    // what the stored table holds — with rounding only in the output
    // column, mirroring the engine's read-side r4.
    "q_merge_changefeed" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    arg_max(value, $TS) - arg_min(value, $TS) AS daily_change_raw
         |  FROM events GROUP BY 1, 2),
         |v0 AS (SELECT * FROM daily_all WHERE date <= DATE '2024-01-20'),
         |upd_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    arg_max(value, $TS) - arg_min(value, $TS) AS daily_change_raw
         |  FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2),
         |upd AS (SELECT * FROM upd_all WHERE date >= DATE '2024-01-15'),
         |v1 AS (
         |  SELECT * FROM upd
         |  UNION ALL
         |  SELECT t.* FROM v0 t WHERE NOT EXISTS (
         |    SELECT 1 FROM upd u
         |    WHERE u.event_type = t.event_type AND u.date = t.date)),
         |feed AS (
         |  SELECT 'insert' AS op, n.* FROM v1 n WHERE NOT EXISTS (
         |    SELECT 1 FROM v0 o
         |    WHERE o.event_type = n.event_type AND o.date = n.date)
         |  UNION ALL
         |  SELECT 'update' AS op, n.* FROM v1 n JOIN v0 o
         |    ON o.event_type = n.event_type AND o.date = n.date
         |  WHERE n.daily_open IS DISTINCT FROM o.daily_open
         |     OR n.daily_high IS DISTINCT FROM o.daily_high
         |     OR n.daily_low IS DISTINCT FROM o.daily_low
         |     OR n.daily_close IS DISTINCT FROM o.daily_close
         |     OR n.daily_volume IS DISTINCT FROM o.daily_volume
         |     OR n.daily_change_raw IS DISTINCT FROM o.daily_change_raw)
         |SELECT op, event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume,
         |  round(daily_change_raw, 4) AS daily_change
         |FROM feed""".stripMargin,

    // CDC semantics replay: updates survive only where no later tombstone
    // touches the key; target rows survive where nothing touched them.
    "q_versioned_skip" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    "q_versioned_derived" ->
      s"""SELECT event_id, event_type, value FROM events
         |WHERE $TS >= TIMESTAMP '2024-01-08 06:00:00'
         |  AND $TS <= TIMESTAMP '2024-01-12 18:00:00'""".stripMargin,

    "q_versioned_scan_rule" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    "q_versioned_sql" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    "q_versioned_restore" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS date,
         |  arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |  min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |  CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |  round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |    AS daily_change
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_versioned_fastcount" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(date) AS min_date, max(date) AS max_date FROM (
        |  SELECT event_type, CAST(ts AS DATE) AS date
        |  FROM events GROUP BY 1, 2)
        |WHERE date NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    "q_versioned_scan_in" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn IN (3, 7, 11))""".stripMargin,

    "q_versioned_scan_part" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE event_type = (SELECT min(event_type) FROM events)"""
      .stripMargin,

    "q_versioned_delete" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    // predicate-expression delete: survivors of NOT(window AND not-min-type)
    "q_versioned_delete_expr" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |   OR event_type = (SELECT min(event_type) FROM events)"""
      .stripMargin,

    // pure-SQL DML: DELETE window (non-min types) then UPDATE close < Jan 5
    "q_versioned_sql_dml" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  CASE WHEN date < DATE '2024-01-05'
         |    THEN daily_close * 2 ELSE daily_close END AS daily_close,
         |  daily_volume, daily_change
         |FROM daily_all
         |WHERE date NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |   OR event_type = (SELECT min(event_type) FROM events)"""
      .stripMargin,

    // SQL MERGE: window rows volume-bumped (matched) + re-keyed copies
    // (inserted)
    "q_versioned_sql_merge" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change,
         |    CAST(date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |      AS BOOLEAN) AS in_win
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close,
         |  CAST(CASE WHEN in_win THEN daily_volume + 1000000
         |    ELSE daily_volume END AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM daily_all
         |UNION ALL
         |SELECT event_type || '_x', date, daily_open, daily_high,
         |  daily_low, daily_close,
         |  CAST(daily_volume + 1000000 AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM daily_all WHERE in_win"""
      .stripMargin,

    // CTAS content reached back through named VERSION AS OF 0: the
    // post-CTAS UPDATE must be invisible — the oracle is the PLAIN
    // daily rollup
    "q_catalog_ctas" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS date,
         | arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         | min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         | CAST(sum(user_id) AS BIGINT) AS daily_volume,
         | round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |   AS daily_change
         |FROM events GROUP BY 1, 2""".stripMargin,

    // SQL CHECK gate: the blocked mutation invisible, the two surviving
    // ones applied — volume bumped in the late window, slashed (negative
    // allowed post-DROP) before Jan 3
    "q_catalog_constraint" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close,
         |  CAST(daily_volume
         |    + CASE WHEN date >= DATE '2024-01-15' THEN 1000000 ELSE 0 END
         |    - CASE WHEN date < DATE '2024-01-03' THEN 2000000 ELSE 0 END
         |    AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM daily""".stripMargin,

    // CREATE OR REPLACE's post-replace content by name: the window
    // subset, independently recomputed
    "q_catalog_replace" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS date,
         | arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         | min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         | CAST(sum(user_id) AS BIGINT) AS daily_volume,
         | round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |   AS daily_change
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
         |  AND DATE '2024-01-14'
         |GROUP BY 1, 2""".stripMargin,

    // INSERT OVERWRITE's one-commit replacement read back at its own
    // version: the window subset, independently recomputed
    "q_versioned_overwrite" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS date,
         | arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         | min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         | CAST(sum(user_id) AS BIGINT) AS daily_volume,
         | round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |   AS daily_change
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
         |  AND DATE '2024-01-14'
         |GROUP BY 1, 2""".stripMargin,

    // clause matrix: even-volume window rows deleted, odd bumped,
    // early non-window days deleted by the BY SOURCE clause
    "q_versioned_sql_merge2" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change,
         |    CAST(date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |      AS BOOLEAN) AS in_win
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close,
         |  CAST(CASE WHEN in_win THEN daily_volume + 1000000
         |    ELSE daily_volume END AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM daily_all
         |WHERE NOT (in_win AND daily_volume % 2 = 0)
         |  AND NOT (NOT in_win AND date < DATE '2024-01-03')"""
      .stripMargin,

    // catalog lifecycle: rollup + window MERGE (bump & rekeyed inserts)
    // + early-days DELETE + one-day volume UPDATE, all by table name
    "q_catalog_lifecycle" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change,
         |    CAST(date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |      AS BOOLEAN) AS in_win
         |  FROM events GROUP BY 1, 2),
         |merged AS (
         |  SELECT event_type, date, daily_open, daily_high, daily_low,
         |    daily_close,
         |    CAST(CASE WHEN in_win THEN daily_volume + 1000000
         |      ELSE daily_volume END AS BIGINT) AS daily_volume,
         |    daily_change
         |  FROM daily_all
         |  UNION ALL
         |  SELECT event_type || '_x', date, daily_open, daily_high,
         |    daily_low, daily_close,
         |    CAST(daily_volume + 1000000 AS BIGINT) AS daily_volume,
         |    daily_change
         |  FROM daily_all WHERE in_win)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close,
         |  CAST(CASE WHEN date = DATE '2024-01-05' THEN daily_volume + 7
         |    ELSE daily_volume END AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM merged WHERE date >= DATE '2024-01-03'"""
      .stripMargin,

    // named logical views: two-level aggregate read through a
    // view-over-view chain, late-bound over the full rollup
    "q_catalog_view" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, count(*) AS n_days,
         |  CAST(sum(daily_volume) AS BIGINT) AS vol,
         |  round(sum(daily_close), 4) AS close_sum
         |FROM daily WHERE date >= DATE '2024-01-03'
         |GROUP BY event_type""".stripMargin,

    // INSERT-time schema evolution: mixed generations — the widened
    // tail carries 'late', pre-evolution rows surface NULL
    "q_insert_evolution" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, daily_change,
         |  CASE WHEN date >= DATE '2024-01-15' THEN 'late' END AS src
         |FROM daily""".stripMargin,

    // graft-cdc streaming source: the final table state reconstructed
    // from the streamed change log = rollup with the window UPDATE
    // applied and the early days deleted
    "q_cdc_source" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close,
         |  CAST(CASE WHEN date BETWEEN DATE '2024-01-08'
         |      AND DATE '2024-01-14'
         |    THEN daily_volume + 1000000 ELSE daily_volume END
         |    AS BIGINT) AS daily_volume,
         |  daily_change
         |FROM daily WHERE date >= DATE '2024-01-03'""".stripMargin,

    // stream -> named table -> named matview, end to end: per-symbol
    // totals equal a direct aggregate of the raw events (each event
    // lands in exactly one 5m tumbling window; the matview sums them)
    "q_catalog_stream" ->
      s"""SELECT event_type AS symbol, count(*) AS n_events_total,
         |  CAST(sum(user_id) AS BIGINT) AS vol_total
         |FROM events GROUP BY 1""".stripMargin,

    // transform partitioning at CREATE: ts-range aggregate over the
    // day(ts)-partitioned table (pruning pinned by the in-query guard)
    "q_create_transform" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(user_id) AS BIGINT) AS vol
         |FROM events
         |WHERE $TS >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND $TS < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY event_type""".stripMargin,

    // ADD COLUMN DEFAULT: pre-add generations surface the initial
    // default, the omitted-column INSERT fills the moved write default
    "q_column_default" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  daily_close, daily_volume, daily_change,
         |  CASE WHEN date >= DATE '2024-01-15' THEN 'late'
         |    ELSE 'legacy' END AS src
         |FROM daily""".stripMargin,

    // RENAME COLUMN: the update-window oracle served under the new name
    "q_versioned_rename" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  CASE WHEN date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |    THEN daily_close * 2 ELSE daily_close END AS close_px,
         |  daily_volume, daily_change
         |FROM daily_all"""
      .stripMargin,

    // partition-filtered fold: per-type day counts minus the min type
    "q_versioned_count_part" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT event_type, CAST(ts AS DATE) AS date
        |  FROM events GROUP BY 1, 2)
        |WHERE event_type <> (SELECT min(event_type) FROM events)
        |GROUP BY event_type"""
      .stripMargin,

    // key-list erasure: documents minus the three smallest doc_ids
    "q_versioned_dv_in" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 3)"""
      .stripMargin,

    // UPDATE's oracle: the same rollup with the window's daily_close
    // doubled (per-row double arithmetic is bit-identical cross-engine)
    "q_versioned_update" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, date, daily_open, daily_high, daily_low,
         |  CASE WHEN date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |    THEN daily_close * 2 ELSE daily_close END AS daily_close,
         |  daily_volume, daily_change
         |FROM daily_all"""
      .stripMargin,

    // merge-on-read and rewrite deletes must be reader-indistinguishable:
    // the SAME oracle as q_versioned_delete
    "q_versioned_dv" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM daily_all
         |WHERE date NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'"""
      .stripMargin,

    "q_versioned_bloom" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id = (SELECT doc_id FROM documents
        |                ORDER BY doc_id LIMIT 1 OFFSET 6)""".stripMargin,

    "q_zorder_box" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_partkey % 64 AS px, l_suppkey % 64 AS py
        |FROM lineitem
        |WHERE l_partkey % 64 BETWEEN 20 AND 40
        |  AND l_suppkey % 64 BETWEEN 1 AND 30""".stripMargin,
    "q_zorder_box_nd" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_partkey % 32 AS px, l_suppkey % 32 AS py,
        |  CAST(l_quantity AS BIGINT) % 32 AS pz
        |FROM lineitem
        |WHERE l_partkey % 32 BETWEEN 5 AND 20
        |  AND l_suppkey % 32 BETWEEN 8 AND 30
        |  AND CAST(l_quantity AS BIGINT) % 32 BETWEEN 10 AND 25"""
        .stripMargin,
    "q_cdc_apply" ->
      s"""WITH daily_all AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |    min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |    CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |    round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |      AS daily_change
         |  FROM events GROUP BY 1, 2),
         |target AS (SELECT * FROM daily_all WHERE date <= DATE '2024-01-20'),
         |upd AS (
         |  SELECT * FROM (
         |    SELECT event_type, CAST(ts AS DATE) AS date,
         |      arg_min(value, $TS) AS daily_open, max(value) AS daily_high,
         |      min(value) AS daily_low, arg_max(value, $TS) AS daily_close,
         |      CAST(sum(user_id) AS BIGINT) AS daily_volume,
         |      round(arg_max(value, $TS) - arg_min(value, $TS), 4)
         |        AS daily_change
         |    FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2)
         |  WHERE date >= DATE '2024-01-15'),
         |del_keys AS (
         |  SELECT DISTINCT event_type, date FROM daily_all
         |  WHERE date >= DATE '2024-01-19'),
         |touched AS (
         |  SELECT event_type, date FROM upd
         |  UNION SELECT event_type, date FROM del_keys)
         |SELECT u.* FROM upd u WHERE NOT EXISTS (
         |  SELECT 1 FROM del_keys d
         |  WHERE d.event_type = u.event_type AND d.date = u.date)
         |UNION ALL
         |SELECT t.* FROM target t WHERE NOT EXISTS (
         |  SELECT 1 FROM touched x
         |  WHERE x.event_type = t.event_type AND x.date = t.date)"""
        .stripMargin,

    "q_window_ma" ->
      s"""SELECT event_id, event_type,
         | round(avg(value) OVER (PARTITION BY event_type
         |   ORDER BY $TS, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |   6) AS ma_5,
         | round(avg(value) OVER (PARTITION BY event_type
         |   ORDER BY $TS, event_id ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
         |   6) AS ma_15,
         | round(avg(value) OVER (PARTITION BY event_type
         |   ORDER BY $TS, event_id ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
         |   6) AS ma_30
         |FROM events""".stripMargin,

    "q_window_stddev" ->
      s"""SELECT event_id, event_type,
         | round(stddev_samp(value) OVER (PARTITION BY event_type
         |   ORDER BY $TS, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |   6) AS volatility_5,
         | round(stddev_samp(value) OVER (PARTITION BY event_type
         |   ORDER BY $TS, event_id ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
         |   6) AS volatility_15
         |FROM events""".stripMargin,

    "q_window_sliding" ->
      s"""SELECT event_type,
         | time_bucket(INTERVAL 5 MINUTES, $TS) - k * (INTERVAL 5 MINUTES)
         |   AS window_start,
         | round(sum(value), 4) / count(*) AS ma,
         | CAST(sum(user_id) AS BIGINT) AS volume_sum,
         | count(*) AS n_events
         |FROM events, (SELECT unnest([0, 1, 2]) AS k)
         |GROUP BY 1, 2""".stripMargin,

    "q_window_tumbling" ->
      s"""SELECT event_type,
         | time_bucket(INTERVAL 5 MINUTES, $TS) AS window_start,
         | round(sum(value), 4) / count(*) AS ma,
         | CAST(sum(user_id) AS BIGINT) AS volume_sum,
         | count(*) AS n_events
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_union_all" ->
      s"""WITH g AS (SELECT event_type, $TS AS tts, value, user_id FROM events)
         |SELECT event_type, time_bucket(INTERVAL 5 MINUTES, tts)
         |    AS window_start,
         |  round(sum(value), 4) / count(*) AS ma, CAST(sum(user_id) AS BIGINT) AS volume_sum,
         |  count(*) AS n_events, '5m' AS window_type
         |FROM g GROUP BY 1, 2
         |UNION ALL
         |SELECT event_type, time_bucket(INTERVAL 15 MINUTES, tts),
         |  round(sum(value), 4) / count(*), CAST(sum(user_id) AS BIGINT), count(*), '15m'
         |FROM g GROUP BY 1, 2
         |UNION ALL
         |SELECT event_type, time_bucket(INTERVAL 1 HOUR, tts),
         |  round(sum(value), 4) / count(*), CAST(sum(user_id) AS BIGINT), count(*), '1h'
         |FROM g GROUP BY 1, 2""".stripMargin,

    "q_case_when" ->
      s"""WITH w AS (
         |  SELECT event_id, event_type,
         |    avg(value) OVER (PARTITION BY event_type ORDER BY $TS, event_id
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS ma_15,
         |    avg(value) OVER (PARTITION BY event_type ORDER BY $TS, event_id
         |      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ma_30,
         |    stddev_samp(value) OVER (PARTITION BY event_type
         |      ORDER BY $TS, event_id
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS volatility_15,
         |    avg(user_id) OVER (PARTITION BY event_type ORDER BY $TS, event_id
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vol_5,
         |    avg(user_id) OVER (PARTITION BY event_type ORDER BY $TS, event_id
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS vol_15
         |  FROM events)
         |SELECT event_id, event_type,
         |  round(ma_15, 6) AS ma_15, round(ma_30, 6) AS ma_30,
         |  round(volatility_15, 6) AS volatility_15,
         |  CASE WHEN ma_15 > ma_30 THEN 'bullish'
         |       WHEN ma_15 < ma_30 THEN 'bearish'
         |       ELSE 'neutral' END AS price_trend,
         |  CASE WHEN volatility_15 > 35.0 THEN 'high'
         |       WHEN volatility_15 > 25.0 THEN 'medium'
         |       ELSE 'low' END AS volatility_level,
         |  CASE WHEN vol_5 > vol_15 * 1.02 THEN 'increasing'
         |       ELSE 'normal' END AS volume_trend
         |FROM w""".stripMargin,

    "q_topk" ->
      """SELECT * FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_scalar_datetime" ->
      s"""SELECT event_id,
         | date_trunc('minute', $TS) AS minute_ts,
         | strftime($TS, '%Y-%m-%d') AS date_str,
         | $TS + INTERVAL 15 MINUTES AS ts_plus_15m,
         | CAST(ts AS DATE) + 15 AS window_15m_end_ref,
         | CAST(ts AS DATE) AS event_date
         |FROM events""".stripMargin,

    "q_scan_jsonl" ->
      "SELECT event_id, event_type, user_id, value FROM events",

    "q_sessionize" ->
      s"""WITH x AS (SELECT user_id, $TS AS tts, event_id, value FROM events),
         |y AS (SELECT *, CASE WHEN epoch_us(tts) - lag(epoch_us(tts))
         |    OVER (PARTITION BY user_id ORDER BY tts, event_id)
         |    > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
         |z AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS session_idx FROM y)
         |SELECT user_id, session_idx, min(tts) AS session_start,
         |  max(tts) AS session_end, count(*) AS n_events,
         |  round(sum(value), 4) AS value_sum
         |FROM z GROUP BY 1, 2""".stripMargin,

    // session_window merge is end-INCLUSIVE (a gap of exactly 30 min stays
    // in the session — same break rule as byGap; asserted in OpsSpec);
    // session_end = last event + gap
    "q_session_window" ->
      s"""WITH x AS (SELECT user_id, $TS AS tts, event_id, value FROM events),
         |y AS (SELECT *, CASE WHEN epoch_us(tts) - lag(epoch_us(tts))
         |    OVER (PARTITION BY user_id ORDER BY tts, event_id)
         |    > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
         |z AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING)
         |    AS session_idx FROM y)
         |SELECT user_id, min(tts) AS session_start,
         |  max(tts) + INTERVAL 30 MINUTES AS session_end,
         |  count(*) AS n_events, round(sum(value), 4) AS value_sum
         |FROM z GROUP BY user_id, session_idx""".stripMargin,

    // IS NOT DISTINCT FROM replays Spark's null-safe <=>; row_number
    // forces the first row of a key to open run 1 even with a NULL state
    "q_runs" ->
      s"""WITH x AS (SELECT user_id, $TS AS tts, event_id, event_type
         |    FROM events),
         |y AS (SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
         |    WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
         |      THEN 0 ELSE 1 END AS brk FROM x
         |  WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id)),
         |z AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS run_idx FROM y)
         |SELECT user_id, run_idx, min(event_type) AS event_type,
         |  min(tts) AS run_start, max(tts) AS run_end,
         |  count(*) AS n_events
         |FROM z GROUP BY 1, 2""".stripMargin,

    // order-dependent recurrence (keep depends on which rows survived):
    // the recursive CTE walks each key's NON-NULL-ts rows in
    // (ts, event_id) order carrying the last-kept µs instant —
    // all-integer, bit-identical replay. NULL-ts rows sit outside the
    // recursion on BOTH engines (the fold passes them through with a
    // NULL kept and untouched state), so engine-specific NULL ordering
    // (Spark NULLS FIRST vs DuckDB NULLS LAST) can never skew rn
    "q_debounce" ->
      s"""WITH RECURSIVE o AS (
         |  SELECT user_id, event_id, epoch_us($TS) AS us,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY $TS, event_id) AS rn
         |  FROM events WHERE ts IS NOT NULL),
         |walk AS (
         |  SELECT user_id, event_id, rn, us AS last_kept, TRUE AS kept
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.user_id, o.event_id, o.rn,
         |    CASE WHEN o.us - w.last_kept >= 60000000 THEN o.us
         |      ELSE w.last_kept END,
         |    o.us - w.last_kept >= 60000000
         |  FROM o JOIN walk w
         |    ON o.user_id = w.user_id AND o.rn = w.rn + 1)
         |SELECT user_id, event_id, kept FROM walk
         |UNION ALL
         |SELECT user_id, event_id, NULL AS kept
         |FROM events WHERE ts IS NULL""".stripMargin,

    // flat desc-cumulative replays the banded two-pass exactly: bands
    // partition the desc order (higher band => strictly larger total)
    "q_abc_classify" ->
      """WITH t AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS measure_sum
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(sum(measure_sum) AS BIGINT) AS tot FROM t),
        |c AS (SELECT o_custkey, measure_sum,
        |    CAST(sum(measure_sum) OVER (ORDER BY measure_sum DESC,
        |      o_custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_sum
        |  FROM t)
        |SELECT o_custkey, measure_sum, cum_sum,
        |  CASE WHEN cum_sum * 100 <= tot * 80 THEN 'A'
        |       WHEN cum_sum * 100 <= tot * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c, g""".stripMargin,

    // both engines implant the identical synthetic PII, then count and
    // scrub with the same RE2-safe patterns (order: email, ssn, phone, ip)
    "q_text_redact" ->
      """WITH salted AS (
        |  SELECT doc_id, text || ' contact user' || doc_id
        |    || '@example.com or 555-' || printf('%03d', doc_id % 1000)
        |    || '.1234 ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |    AS text
        |  FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        | len(regexp_extract_all(text,
        |   '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
        | len(regexp_extract_all(text,
        |   '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        | len(regexp_extract_all(text,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
        |   AS text_redacted
        |FROM salted""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 4) AS value_sum,
        | min(value) AS value_min, max(value) AS value_max,
        | round(sum(value), 4) / count(value) AS value_avg
        |FROM events GROUP BY 1""".stripMargin,

    "q_union_positional" ->
      s"""WITH g AS (SELECT event_type, $TS AS tts, value FROM events)
         |SELECT event_type, time_bucket(INTERVAL 5 MINUTES, tts)
         |    AS window_start,
         |  round(sum(value), 4) / count(*) AS avg_price_15m,
         |  round(stddev_samp(value), 6) AS volatility_15m,
         |  '5min' AS window_type
         |FROM g GROUP BY 1, 2
         |UNION ALL
         |SELECT event_type, time_bucket(INTERVAL 15 MINUTES, tts),
         |  round(sum(value), 4) / count(*), round(stddev_samp(value), 6), '15min'
         |FROM g GROUP BY 1, 2
         |UNION ALL
         |SELECT event_type, time_bucket(INTERVAL 1 HOUR, tts),
         |  round(sum(value), 4) / count(*), NULL, '1hour'
         |FROM g GROUP BY 1, 2""".stripMargin,

    "q_scalar_string" ->
      """SELECT doc_id, upper(lang) AS lang_uc,
        | regexp_replace(source, '[0-9]+', '', 'g') AS src_alpha,
        | concat_ws('-', lang, source) AS lang_src,
        | substr(text, 1, 10) AS prefix10,
        | length(text) AS n_len
        |FROM documents""".stripMargin,

    "q_scalar_math" ->
      """SELECT event_id,
        | value * 1.05 AS v_up,
        | (value - 50.0) / 50.0 * 100.0 AS pct_vs_50,
        | abs(value - 50.0) AS abs_dev,
        | CAST(floor(value) AS BIGINT) AS v_floor,
        | CAST(ceil(value) AS BIGINT) AS v_ceil
        |FROM events""".stripMargin,

    "q_null_impute" ->
      """SELECT event_id,
        | coalesce(CASE WHEN value < 1 THEN NULL ELSE value END, 0)
        |   AS v,
        | coalesce(CASE WHEN event_type = 'error' THEN NULL
        |   ELSE event_type END, 'unknown') AS et
        |FROM events""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INT) AS k,
        | to_json({'k': CAST(json_extract_string(props, '$.k') AS INT)})
        |   AS rebuilt
        |FROM events""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |shn AS (SELECT * FROM sh WHERE id % 10 = 0),
        |shc AS (SELECT * FROM sh WHERE id % 10 <> 0),
        |over_cap AS (
        |  SELECT block, shingle FROM shc GROUP BY 1, 2
        |  HAVING count(*) > 1000),
        |pn AS (SELECT * FROM shn s WHERE NOT EXISTS (
        |  SELECT 1 FROM over_cap o
        |  WHERE o.block = s.block AND o.shingle = s.shingle)),
        |pc AS (SELECT * FROM shc s WHERE NOT EXISTS (
        |  SELECT 1 FROM over_cap o
        |  WHERE o.block = s.block AND o.shingle = s.shingle)),
        |s1 AS (SELECT id, count(*) AS n FROM pn GROUP BY 1),
        |s2 AS (SELECT id, count(*) AS n FROM pc GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS new_id, b.id AS corpus_id, count(*) AS n_common
        |  FROM pn a JOIN pc b ON a.block = b.block AND a.shingle = b.shingle
        |  GROUP BY 1, 2)
        |SELECT new_id, corpus_id, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN s1 ON s1.id = new_id
        |JOIN s2 ON s2.id = corpus_id
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.3"""
        .stripMargin,

    // CDC-maintained LSH index: batch-vs-corpus exact near-dup pairs at
    // >= 0.7, probed through the index buckets (capless, unblocked)
    "q_dedup_index" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |shn AS (SELECT * FROM sh WHERE id % 10 = 0),
        |shc AS (SELECT * FROM sh WHERE id % 10 <> 0),
        |s1 AS (SELECT id, count(*) AS n FROM shn GROUP BY 1),
        |s2 AS (SELECT id, count(*) AS n FROM shc GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS new_id, b.id AS corpus_id, count(*) AS n_common
        |  FROM shn a JOIN shc b ON a.shingle = b.shingle
        |  GROUP BY 1, 2)
        |SELECT new_id, corpus_id, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN s1 ON s1.id = new_id
        |JOIN s2 ON s2.id = corpus_id
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.7"""
        .stripMargin,

    "q_dedup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.id = id1
        |JOIN sizes s2 ON s2.id = id2
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.1"""
        .stripMargin,

    "q_dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / least(s1.n, s2.n), 6)
        |    AS containment
        |FROM inter
        |JOIN sizes s1 ON s1.id = id1
        |JOIN sizes s2 ON s2.id = id2
        |WHERE CAST(n_common AS DOUBLE) / least(s1.n, s2.n) >= 0.6"""
        .stripMargin,

    "q_dedup_jaccard_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.id = id1
        |JOIN sizes s2 ON s2.id = id2
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.7"""
        .stripMargin,

    "q_approx_distinct" ->
      """SELECT count(*) AS n_rows,
        | count(DISTINCT l_partkey) AS n_l_partkey_exact,
        | count(DISTINCT l_orderkey) AS n_l_orderkey_exact,
        | true AS l_partkey_within_rsd,
        | true AS l_orderkey_within_rsd
        |FROM lineitem""".stripMargin,

    // Containment invariant: exact lang-blocked jaccard-pair count at
    // >= 0.7 and a zero missed count (the GLOBAL LSH candidate set must
    // cover every within-lang exact pair — a fortiori a global true pair).
    "q_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT count(*) AS n_exact_pairs, 0 AS n_missed
        |FROM inter
        |JOIN sizes s1 ON s1.id = id1
        |JOIN sizes s2 ON s2.id = id2
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.7"""
        .stripMargin,

    // Containment invariant: md5-equal pair count; simhash blocking must
    // surface every one at hamming 0.
    "q_dedup_simhash" ->
      """SELECT count(*) AS n_exact_dup_pairs, 0 AS n_missed
        |FROM documents a JOIN documents b
        |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id"""
        .stripMargin,

    // Exact global (un-blocked) jaccard pairs at >= 0.7: the LSH-verified
    // operator's recall contract makes its output equal this exact set
    // (see qDedupMinhashVerified scaladoc).
    "q_dedup_minhash_verified" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT shingle FROM sh GROUP BY 1
        |        HAVING count(*) <= 1000) d
        |    USING (shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, n_common, s1.n AS n1, s2.n AS n2,
        |  round(CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.id = id1
        |JOIN sizes s2 ON s2.id = id2
        |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.7"""
        .stripMargin,

    // Replays the shingle index with STRING 3-grams (the engine uses
    // xxh64 hash shingles; identical counts absent collisions — the same
    // equivalence every dedup oracle relies on).
    "q_text_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'),
        |                      x -> x <> '') AS toks
        |        FROM documents)),
        |d AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY 1),
        |o AS (
        |  SELECT id, count(*) AS n_shingles,
        |    count(CASE WHEN dfreq >= 2 THEN 1 END) AS n_shared
        |  FROM sh JOIN d USING (shingle) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap_ratio
        |FROM documents LEFT JOIN o ON doc_id = o.id""".stripMargin,

    // Independent formulation: positional self-join for the 4-grams and a
    // NOT EXISTS anti for the covered tokens (the engine uses array
    // slices + higher-order filter — no join on the rebuild path).
    "q_dedup_spans" ->
      """WITH ta AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |                x -> x <> '') AS a
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(a) AS tok,
        |    CAST(generate_subscripts(a, 1) AS INT) AS pos
        |  FROM ta),
        |gl AS (
        |  SELECT doc_id,
        |    [array_to_string(a[i:i+3], ' ')
        |     for i in range(1, len(a) - 2)] AS gs
        |  FROM ta),
        |grams AS (
        |  SELECT doc_id, unnest(gs) AS g,
        |    CAST(generate_subscripts(gs, 1) AS INT) AS pos
        |  FROM gl),
        |flagged AS (
        |  SELECT g FROM grams GROUP BY g
        |  HAVING count(DISTINCT doc_id)
        |    >= greatest(3, (SELECT count(*) FROM documents) // 1000)),
        |starts AS (
        |  SELECT DISTINCT gr.doc_id, gr.pos
        |  FROM grams gr JOIN flagged f USING (g)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM starts s
        |    WHERE s.doc_id = t.doc_id
        |      AND t.pos BETWEEN s.pos AND s.pos + 3)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
        |  FROM kept GROUP BY 1)
        |SELECT ta.doc_id, CAST(len(ta.a) AS INT) AS n_tokens,
        |  CAST(len(ta.a) - coalesce(agg.n_kept, 0) AS INT) AS n_dropped,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM ta LEFT JOIN agg USING (doc_id)""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |                            x -> x <> '')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
        |p AS (
        |  SELECT substr(w, CAST(unnest(range(1, length(w))) AS INT), 2)
        |      AS pair, n
        |  FROM wf WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(n) AS BIGINT) AS freq
        |FROM p GROUP BY 1
        |ORDER BY freq DESC, pair ASC LIMIT 20""".stripMargin,

    // Bit-exact replay: same polynomial k-gram hash (B=131, M=1000003),
    // same packed argmin key (h * 2^21 + (2^21-1-p)) so rightmost-min
    // winnowing is one window min on both engines.
    "q_winnow" ->
      """WITH pos AS (
        |  SELECT doc_id, text, CAST(length(text) - 3 AS INT) AS n_grams,
        |    CAST(unnest(range(1, length(text) - 2)) AS INT) AS p
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_grams, p,
        |    CAST((ascii(substr(text, p, 1)) * 2248091
        |     + ascii(substr(text, p + 1, 1)) * 17161
        |     + ascii(substr(text, p + 2, 1)) * 131
        |     + ascii(substr(text, p + 3, 1))) % 1000003 AS BIGINT) AS hh
        |  FROM pos),
        |wm AS (
        |  SELECT doc_id, n_grams, p,
        |    min(hh * 2097152 + (2097151 - p)) OVER (
        |      PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS win_min
        |  FROM h),
        |fp AS (
        |  SELECT DISTINCT doc_id, n_grams,
        |    2097151 - (win_min % 2097152) AS fpp,
        |    win_min // 2097152 AS hv
        |  FROM wm WHERE p <= n_grams - 4)
        |SELECT doc_id, max(n_grams) AS n_grams,
        |  CAST(count(*) AS BIGINT) AS n_fp,
        |  CAST(sum(hv * 1000003 + fpp) AS BIGINT) AS fp_checksum
        |FROM fp GROUP BY 1""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem
        |  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p_obs,
        |  round(log10(1.0 + 1.0 / digit), 6) AS p_benford,
        |  round((n - tot * log10(1.0 + 1.0 / digit))
        |        * (n - tot * log10(1.0 + 1.0 / digit))
        |        / (tot * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
        |FROM c, t""".stripMargin,

    // Independent formulation: the literal NOT EXISTS dominance
    // definition (the engine uses the distinct-x strict-prefix cummin).
    "q_pareto" ->
      """WITH agg AS (
        |  SELECT l_partkey AS part_id,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS min_price_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT part_id, tot_qty, min_price_cents FROM agg a
        |WHERE NOT EXISTS (SELECT 1 FROM agg b
        |  WHERE b.tot_qty >= a.tot_qty
        |    AND b.min_price_cents <= a.min_price_cents
        |    AND (b.tot_qty > a.tot_qty
        |         OR b.min_price_cents < a.min_price_cents))""".stripMargin,

    "q_interval_overlap" ->
      """WITH iv AS (
        |  SELECT l_partkey, l_suppkey, o_orderdate AS s, l_shipdate AS e
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate IS NOT NULL AND l_shipdate IS NOT NULL),
        |c AS (
        |  SELECT a.l_partkey, a.l_suppkey, count(*) AS cc
        |  FROM iv a JOIN iv b
        |    ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
        |    AND a.s <= b.e AND b.s <= a.e
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT)
        |      AS n_intervals
        |  FROM iv GROUP BY 1, 2)
        |SELECT l_partkey, l_suppkey, n_intervals,
        |  CAST((cc - n_intervals) // 2 AS BIGINT) AS n_overlap_pairs,
        |  FALSE AS overflow
        |FROM c JOIN n USING (l_partkey, l_suppkey)
        |WHERE (cc - n_intervals) // 2 > 0""".stripMargin,

    // Replays the banded two-pass cumulative as one flat window (band =
    // md5 prefix, so band-then-in-band order IS (h, key) order).
    "q_sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents WHERE n_chars > 0),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(n_chars) OVER () AS BIGINT) AS tot
        |  FROM t)
        |SELECT doc_id, n_chars,
        |  CAST(((cum - n_chars) * 50) // tot AS BIGINT) AS bucket
        |FROM c
        |WHERE ((cum - n_chars) * 50) // tot < (cum * 50) // tot"""
        .stripMargin,

    // One lead-k branch per lag (DuckDB lead offsets are constants); the
    // final r replays the engine's exact-long IEEE tree verbatim.
    "q_acf" ->
      ("""WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |p AS (""".stripMargin +
        (1 to 6).map(k =>
          s"""
             |  SELECT event_type, $k AS lag, x,
             |    lead(x, $k) OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id) AS y
             |  FROM e""".stripMargin)
          .mkString("\n  UNION ALL") + ")," +
        """
        |a AS (
        |  SELECT event_type, CAST(lag AS INT) AS lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |  round((CAST(n_pairs AS DOUBLE) * sxy
        |         - CAST(sx AS DOUBLE) * sy)
        |    / nullif(sqrt((CAST(n_pairs AS DOUBLE) * sxx
        |           - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n_pairs AS DOUBLE) * syy
        |           - CAST(sy AS DOUBLE) * sy)), 0.0), 6) AS acf
        |FROM a""".stripMargin),

    "q_reconcile" ->
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |a AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS a_cents
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS b_cents
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |  COALESCE(a.day, b.day) AS day, a_cents, b_cents,
        |  CASE WHEN a.user_id IS NOT NULL AND b.user_id IS NOT NULL
        |         THEN 'both'
        |       WHEN a.user_id IS NOT NULL THEN 'a_only'
        |       ELSE 'b_only' END AS presence,
        |  COALESCE(a_cents, 0) - COALESCE(b_cents, 0) AS delta
        |FROM a FULL OUTER JOIN b
        |  ON a.user_id = b.user_id AND a.day = b.day""".stripMargin,

    "q_xcorr" ->
      """WITH s AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
        |      * 3600 AS bucket,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT bucket, v AS x FROM s WHERE event_type = 'click'),
        |b AS (SELECT bucket, v AS y FROM s WHERE event_type = 'purchase'),
        |k AS (SELECT unnest(range(-6, 7)) AS lag),
        |bs AS (SELECT b.bucket - k.lag * 3600 AS bucket, y, lag
        |       FROM b CROSS JOIN k),
        |g AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM a JOIN bs USING (bucket) GROUP BY 1)
        |SELECT CAST(lag AS INT) AS lag, n_pairs,
        |  round((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / nullif(sqrt((CAST(n_pairs AS DOUBLE) * sxx
        |           - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n_pairs AS DOUBLE) * syy
        |           - CAST(sy AS DOUBLE) * sy)), 0.0), 6) AS xcorr
        |FROM g""".stripMargin,

    // DuckDB dayofweek() is 0=Sunday..6; Spark's is 1=Sunday..7 — shift.
    "q_chi2" ->
      """WITH c AS (
        |  SELECT event_type AS row_key,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS col_key,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT row_key, CAST(sum(o) AS BIGINT) AS rt
        |      FROM c GROUP BY 1),
        |cl AS (SELECT col_key, CAST(sum(o) AS BIGINT) AS ct
        |       FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c)
        |SELECT row_key, col_key, o,
        |  round(CAST(rt AS DOUBLE) * ct / n, 6) AS expected,
        |  round((o - CAST(rt AS DOUBLE) * ct / n)
        |        * (o - CAST(rt AS DOUBLE) * ct / n)
        |        / (CAST(rt AS DOUBLE) * ct / n), 6) AS chi2_term
        |FROM c JOIN r USING (row_key) JOIN cl USING (col_key)
        |  CROSS JOIN t""".stripMargin,

    "q_conversion_lag" ->
      """WITH t0 AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |l AS (
        |  SELECT e.user_id,
        |    (min(epoch_us(CAST(e.ts AS TIMESTAMP)))
        |      - min(epoch_us(t0.t0))) // 1000000 AS lag_s
        |  FROM events e JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS TIMESTAMP) > t0.t0
        |  GROUP BY 1),
        |g AS (
        |  SELECT quantile_cont(lag_s, [0.1, 0.25, 0.5, 0.75, 0.9]) AS ps,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM l)
        |SELECT n, 0.1 AS q, round(ps[1], 6) AS value_q FROM g
        |UNION ALL SELECT n, 0.25, round(ps[2], 6) FROM g
        |UNION ALL SELECT n, 0.5, round(ps[3], 6) FROM g
        |UNION ALL SELECT n, 0.75, round(ps[4], 6) FROM g
        |UNION ALL SELECT n, 0.9, round(ps[5], 6) FROM g""".stripMargin,

    "q_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM toks GROUP BY 1, 2),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
        |      % 64 AS INT) AS bucket,
        |    CASE WHEN CAST(concat('0x', substr(md5(term), 9, 1))
        |        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END * cnt AS sw
        |  FROM tf)
        |SELECT doc_id, bucket, CAST(sum(sw) AS BIGINT) AS w
        |FROM hashed GROUP BY 1, 2
        |HAVING sum(sw) <> 0""".stripMargin,

    // DSIR replay: same md5 buckets, same add-1 smoothed ln ratio; the
    // per-doc sum rounds r4 before the ordered cut (id-tiebroken)
    "q_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
        |      % 256 AS INT) AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '')) AS term
        |        FROM documents)),
        |dist AS (
        |  SELECT b, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t, CAST(count(*) AS BIGINT) AS q
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tn,
        |               CAST(sum(q) AS BIGINT) AS qn FROM dist),
        |ratio AS (
        |  SELECT b, ln(t + 1.0) - ln(tn + 256.0)
        |           - ln(q + 1.0) + ln(qn + 256.0) AS lr
        |  FROM dist, tot),
        |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |       FROM toks GROUP BY 1, 2),
        |w AS (SELECT doc_id, round(sum(c * lr), 4) AS logw
        |      FROM dc JOIN ratio USING (b) GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.source, w.logw
        |FROM documents d JOIN w USING (doc_id)
        |ORDER BY w.logw DESC, d.doc_id ASC LIMIT 50""".stripMargin,

    // z² is spelled 1.96*1.96 so both engines build the identical double
    "q_wilson" ->
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(sum(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2)
        |SELECT c_mktsegment, c_nationkey, k, n,
        |  round(CAST(k AS DOUBLE) / n, 6) AS rate,
        |  round((CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * n))
        |        / (1.0 + (1.96 * 1.96) / n)
        |      - (1.96 / (1.0 + (1.96 * 1.96) / n))
        |        * sqrt((CAST(k AS DOUBLE) / n)
        |              * (1.0 - CAST(k AS DOUBLE) / n) / n
        |            + (1.96 * 1.96) / (4.0 * n * n)), 6) AS wilson_lo,
        |  round((CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * n))
        |        / (1.0 + (1.96 * 1.96) / n)
        |      + (1.96 / (1.0 + (1.96 * 1.96) / n))
        |        * sqrt((CAST(k AS DOUBLE) / n)
        |              * (1.0 - CAST(k AS DOUBLE) / n) / n
        |            + (1.96 * 1.96) / (4.0 * n * n)), 6) AS wilson_hi
        |FROM g""".stripMargin,

    "q_interevent_gap" ->
      s"""WITH g AS (
         |  SELECT event_type,
         |    (epoch_us($TS) - lag(epoch_us($TS), 1) OVER (
         |       PARTITION BY user_id ORDER BY $TS, event_id))
         |      // 1000000 AS gap_s
         |  FROM events),
         |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
         |p AS (
         |  SELECT event_type,
         |    quantile_cont(gap_s, [0.25, 0.5, 0.75, 0.9]) AS ps,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM gg GROUP BY 1)
         |SELECT event_type, 0.25 AS q, round(ps[1], 6) AS value_q, n FROM p
         |UNION ALL SELECT event_type, 0.5, round(ps[2], 6), n FROM p
         |UNION ALL SELECT event_type, 0.75, round(ps[3], 6), n FROM p
         |UNION ALL SELECT event_type, 0.9, round(ps[4], 6), n FROM p"""
        .stripMargin,

    "q_fk_audit" -> Seq(
      ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders",
        "orders", "o_orderkey"),
      ("lineitem.l_partkey", "lineitem", "l_partkey", "part",
        "part", "p_partkey"),
      ("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier",
        "supplier", "s_suppkey"),
      ("orders.o_custkey", "orders", "o_custkey", "customer",
        "customer", "c_custkey"),
      ("customer.c_nationkey", "customer", "c_nationkey", "nation",
        "nation", "n_nationkey"),
      ("supplier.s_nationkey", "supplier", "s_nationkey", "nation",
        "nation", "n_nationkey"),
      ("nation.n_regionkey", "nation", "n_regionkey", "region",
        "region", "r_regionkey"))
      .map { case (name, child, fk, pname, parent, pk) =>
        s"""SELECT '$name' AS relation, '$pname' AS parent,
           |  CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_rows,
           |  CAST((SELECT count(*) FROM $child WHERE $fk IS NULL)
           |    AS BIGINT) AS n_null_fk,
           |  CAST(coalesce((SELECT sum(n) FROM (
           |      SELECT $fk AS fkv, count(*) AS n FROM $child
           |      WHERE $fk IS NOT NULL GROUP BY 1) c
           |    WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |      WHERE p.$pk = c.fkv)), 0) AS BIGINT) AS n_orphans,
           |  CAST((SELECT count(*) FROM (
           |      SELECT $fk AS fkv, count(*) AS n FROM $child
           |      WHERE $fk IS NOT NULL GROUP BY 1) c
           |    WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |      WHERE p.$pk = c.fkv)) AS BIGINT) AS n_orphan_values"""
          .stripMargin
      }.mkString("\nUNION ALL\n"),

    "q_rolling_active" ->
      s"""WITH daily AS (
         |  SELECT DISTINCT event_type, CAST($TS AS DATE) AS day,
         |    user_id
         |  FROM events),
         |anchors AS (SELECT DISTINCT event_type, day FROM daily),
         |hits AS (
         |  SELECT DISTINCT a.event_type, a.day, d.user_id
         |  FROM anchors a JOIN daily d
         |    ON a.event_type = d.event_type
         |    AND d.day > a.day - 7 AND d.day <= a.day)
         |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_active
         |FROM hits GROUP BY 1, 2""".stripMargin,

    "q_cohort_ltv" ->
      s"""WITH fs AS (
         |  SELECT user_id, min(CAST($TS AS DATE)) AS cohort_day
         |  FROM events GROUP BY 1),
         |rev AS (
         |  SELECT fs.cohort_day,
         |    CAST(CAST(CAST(e.ts AS TIMESTAMP) AS DATE) - fs.cohort_day
         |      AS INT) AS age_days,
         |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         |      AS rev_cents
         |  FROM events e JOIN fs USING (user_id)
         |  GROUP BY 1, 2)
         |SELECT cohort_day, age_days, rev_cents,
         |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
         |    ORDER BY age_days
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_rev_cents
         |FROM rev""".stripMargin,

    "q_share_of_parent" ->
      """WITH j AS (
        |  SELECT r_name, n_name,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey),
        |c AS (SELECT r_name, n_name, CAST(sum(cents) AS BIGINT) AS m
        |      FROM j GROUP BY 1, 2)
        |SELECT r_name, n_name, m,
        |  CAST(sum(m) OVER (PARTITION BY r_name) AS BIGINT) AS parent_m,
        |  CAST(m AS DOUBLE)
        |    / CAST(CAST(sum(m) OVER (PARTITION BY r_name) AS BIGINT)
        |        AS DOUBLE) AS share
        |FROM c""".stripMargin,

    "q_weighted_quantiles" ->
      """WITH dv AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM dv),
        |k AS (SELECT unnest([100, 250, 500, 750, 900]) AS permille)
        |SELECT l_returnflag, CAST(permille AS INT) AS permille,
        |  CAST(min(v) AS BIGINT) AS value_q,
        |  CAST(min(tot) AS BIGINT) AS total_weight
        |FROM c CROSS JOIN k
        |WHERE cum * 1000 >= permille * tot
        |GROUP BY 1, 2""".stripMargin,

    "q_embed_project" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT)
        |      AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS j),
        |sgn AS (
        |  SELECT pos, j,
        |    CASE WHEN CAST(concat('0x', substr(md5(concat('proj',
        |        CAST(pos AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 1))
        |        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM (SELECT DISTINCT pos FROM q) CROSS JOIN dims)
        |SELECT vec_id, j, CAST(sum(qv * s) AS BIGINT) AS y
        |FROM q JOIN sgn USING (pos) GROUP BY 1, 2""".stripMargin,

    // Global 2^12 fixed-point (the Spectral convention): centroid sums
    // and dots are exact int64; score is one divide of exact longs.
    "q_centroid_eval" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT)
        |      AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS c_label, pos, CAST(sum(qv) AS BIGINT) AS s
        |  FROM q GROUP BY 1, 2),
        |cnt AS (
        |  SELECT label AS c_label, CAST(count(*) AS BIGINT) AS cnt
        |  FROM embeddings GROUP BY 1),
        |d AS (
        |  SELECT q.vec_id, q.label, c.c_label,
        |    CAST(sum(qv * s) AS BIGINT) AS dot_fp
        |  FROM q JOIN cent c USING (pos) GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT vec_id, label, c_label,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY CAST(dot_fp AS DOUBLE) / cnt DESC, c_label) AS rk
        |  FROM d JOIN cnt USING (c_label))
        |SELECT label AS true_label, c_label AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r WHERE rk = 1 GROUP BY 1, 2""".stripMargin,

    "q_dedup_apply" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes s1 ON s1.id = id1
        |  JOIN sizes s2 ON s2.id = id2
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)"""
        .stripMargin,

    // Same recursive-CTE components as q_dedup_apply; the stats layer
    // aggregates per cluster then per cluster SIZE.
    "q_dedup_stats" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes s1 ON s1.id = id1
        |  JOIN sizes s2 ON s2.id = id2
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
        |cl AS (
        |  SELECT comp.comp, CAST(count(*) AS BIGINT) AS cluster_size,
        |    CAST(sum(n_chars) AS BIGINT) AS tot,
        |    CAST(arg_min(n_chars, id) AS BIGINT) AS kept
        |  FROM comp JOIN documents ON doc_id = id GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
        |  CAST(sum(tot) AS BIGINT) AS chars_total,
        |  CAST(sum(tot - kept) AS BIGINT) AS chars_saved
        |FROM cl GROUP BY 1""".stripMargin,

    "q_dedup_apply_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes s1 ON s1.id = id1
        |  JOIN sizes s2 ON s2.id = id2
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
        |keep AS (
        |  SELECT comp, doc_id AS keep_id FROM (
        |    SELECT c.comp, d.doc_id,
        |      row_number() OVER (PARTITION BY c.comp
        |        ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |    FROM comp c JOIN documents d ON d.doc_id = c.id)
        |  WHERE rn = 1)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT c.id FROM comp c JOIN keep k USING (comp)
        |  WHERE c.id <> k.keep_id)""".stripMargin,

    "q_split_leakage" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes s1 ON s1.id = id1
        |  JOIN sizes s2 ON s2.id = id2
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
        |canon AS (
        |  SELECT d.doc_id, d.lang, coalesce(c.comp, d.doc_id) AS canonical
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT doc_id, lang, canonical,
        |  CASE
        |    WHEN substr(md5('v1' || CAST(canonical AS VARCHAR)), 1, 8)
        |         < 'cccccccc' THEN 'train'
        |    WHEN substr(md5('v1' || CAST(canonical AS VARCHAR)), 1, 8)
        |         < 'e6666666' THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM canon""".stripMargin,

    // The full curation chain: quality gate -> md5 min-id exact dedup ->
    // jaccard >= 0.5 components (full-corpus pairs restricted to
    // survivors, mirroring the engine's shared pair index) -> accounting.
    "q_docs_pipeline" ->
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, lang, source, text,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS n_tokens,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |      AS DOUBLE) AS np,
        |    CAST(len(list_filter(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |      t -> list_contains(['the','a','an','and','or','of','to','in',
        |        'is','it'], t))) AS DOUBLE) AS nstop
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, source, text, n_tokens,
        |    round(least(n_tokens / 100.0, 1.0) * 0.4
        |      + (1.0 - least((np / nc) * 5.0, 1.0)) * 0.3
        |      + least((nstop / CAST(n_tokens AS DOUBLE)) * 5.0, 1.0) * 0.3,
        |      6) AS quality_score
        |  FROM f),
        |kept AS (
        |  SELECT * FROM q WHERE quality_score >= 0.5 AND n_tokens >= 10),
        |minid AS (
        |  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        |ek AS (SELECT k.* FROM kept k JOIN minid USING (doc_id)),
        |sh AS (
        |  SELECT doc_id AS id, lang AS block,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'),
        |            x -> x <> '') AS toks
        |        FROM documents)),
        |filt AS (
        |  SELECT sh.* FROM sh
        |  JOIN (SELECT block, shingle FROM sh GROUP BY 1, 2
        |        HAVING count(*) <= 1000) d
        |    USING (block, shingle)),
        |sizes AS (SELECT id, count(*) AS n FROM filt GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
        |  FROM filt a JOIN filt b
        |    ON a.block = b.block AND a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes s1 ON s1.id = id1
        |  JOIN sizes s2 ON s2.id = id2
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5),
        |sp AS (
        |  SELECT p.id1, p.id2 FROM pairs p
        |  JOIN ek a ON a.doc_id = p.id1
        |  JOIN ek b ON b.doc_id = p.id2),
        |edges AS (SELECT id1 AS a, id2 AS b FROM sp
        |          UNION ALL SELECT id2, id1 FROM sp),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(sum(quality_score), 6) AS sum_quality
        |FROM ek
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)
        |GROUP BY 1, 2""".stripMargin,

    "q_text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars_m,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |      AS DOUBLE) AS na,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |      AS DOUBLE) AS np,
        |    CAST(length(text) AS DOUBLE)
        |      - CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      AS nsp,
        |    CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |      t -> list_contains(['the','a','an','and','or','of','to','in',
        |        'is','it'], t))) AS DOUBLE) AS nstop,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE)
        |      AS nt
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens,
        |  round((nc - nsp) / nt, 6) AS avg_token_len,
        |  round(np / nc, 6) AS punct_ratio,
        |  round(nsp / nc, 6) AS space_ratio,
        |  round(na / nc, 6) AS alpha_ratio,
        |  round(nstop / nt, 6) AS stopword_ratio,
        |  round(least(n_tokens / 100.0, 1.0) * 0.4
        |    + (1.0 - least((np / nc) * 5.0, 1.0)) * 0.3
        |    + least((nstop / nt) * 5.0, 1.0) * 0.3, 6) AS quality_score
        |FROM f""".stripMargin,

    "q_window_time_range" ->
      s"""SELECT event_id, event_type,
         |  round(sum(value) OVER w, 4) / count(value) OVER w AS trail_avg,
         |  count(value) OVER w AS trail_n,
         |  max(value) OVER w AS trail_max
         |FROM (SELECT event_id, event_type, value,
         |        CAST(floor(epoch($TS)) AS BIGINT) AS es
         |      FROM events)
         |WINDOW w AS (PARTITION BY event_type ORDER BY es
         |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "q_quality_deciles" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS n_tokens,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |      AS DOUBLE) AS np,
        |    CAST(len(list_filter(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |      t -> list_contains(['the','a','an','and','or','of','to','in',
        |        'is','it'], t))) AS DOUBLE) AS nstop,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> x <> '')) AS DOUBLE) AS nt
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang,
        |    round(least(n_tokens / 100.0, 1.0) * 0.4
        |      + (1.0 - least((np / nc) * 5.0, 1.0)) * 0.3
        |      + least((nstop / nt) * 5.0, 1.0) * 0.3, 6) AS quality_score
        |  FROM f)
        |SELECT doc_id, lang, quality_score,
        |  ntile(10) OVER (PARTITION BY lang
        |    ORDER BY quality_score DESC, doc_id) AS decile
        |FROM q""".stripMargin,

    "q_text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','is','with'], x))) AS score_en,
        |    len(list_filter(toks, x -> list_contains(
        |      ['el','la','de','que','y'], x))) AS score_es,
        |    len(list_filter(toks, x -> list_contains(
        |      ['le','la','et','les','des'], x))) AS score_fr,
        |    len(list_filter(toks, x -> list_contains(
        |      ['der','die','und','das','nicht'], x))) AS score_de,
        |    len(list_filter(toks, x -> list_contains(
        |      ['的','是','了','在','我'], x))) AS score_zh
        |  FROM t)
        |SELECT doc_id, lang, score_en, score_es, score_fr, score_de,
        |  score_zh,
        |  CASE
        |    WHEN score_en = greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) AND greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) > 0 THEN 'en'
        |    WHEN score_es = greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) AND greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) > 0 THEN 'es'
        |    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) AND greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) > 0 THEN 'fr'
        |    WHEN score_de = greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) AND greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) > 0 THEN 'de'
        |    WHEN score_zh = greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) AND greatest(score_en, score_es, score_fr, score_de,
        |      score_zh) > 0 THEN 'zh'
        |    ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |   AS n_bpeish_tokens
        |FROM documents""".stripMargin,

    "q_text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  md5(array_to_string(string_split(norm, ' ')[1:8], ' '))
        |    AS fp_prefix
        |FROM n""".stripMargin,

    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END AS bi
        |  FROM t)
        |SELECT doc_id, n AS n_tokens_r,
        |  round(1.0 - len(list_distinct(toks))
        |    / CAST(nullif(n, 0) AS DOUBLE), 6) AS dup_word_ratio,
        |  round(list_max(list_transform(list_distinct(toks),
        |      w -> len(list_filter(toks, t2 -> t2 = w))))
        |    / CAST(nullif(n, 0) AS DOUBLE), 6) AS top_word_ratio,
        |  CASE WHEN n > 0 AND len(bi) = 0 THEN 0.0
        |    ELSE round(1.0 - len(list_distinct(bi))
        |      / CAST(nullif(len(bi), 0) AS DOUBLE), 6)
        |  END AS dup_bigram_ratio
        |FROM b""".stripMargin,

    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM t WHERE len(toks) >= 3),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT doc_id, count(DISTINCT gram) AS n_hits
        |  FROM g WHERE doc_id % 20 <> 0
        |    AND gram IN (SELECT gram FROM eg)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(h.n_hits, 0) AS n_contaminated_grams,
        |  CASE WHEN coalesce(h.n_hits, 0) >= 1 THEN 1 ELSE 0 END
        |    AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 20 <> 0""".stripMargin,

    // exact cross (corpus x eval) 3-gram Jaccard at >= 0.7 — the
    // LSH-verified operator's recall contract (32 bands of 2 rows,
    // miss < 1e-9) makes its output equal this exact set, the
    // q_dedup_minhash_verified shape with the eval split as the batch
    "q_decontaminate_fuzzy" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |d AS (SELECT * FROM sh WHERE id % 20 <> 0),
        |e AS (SELECT * FROM sh WHERE id % 20 = 0),
        |ds AS (SELECT id, count(*) AS n FROM d GROUP BY 1),
        |es AS (SELECT id, count(*) AS n FROM e GROUP BY 1),
        |inter AS (
        |  SELECT d.id AS doc_id, e.id AS eval_id, count(*) AS n_common
        |  FROM d JOIN e ON d.shingle = e.shingle
        |  GROUP BY 1, 2)
        |SELECT doc_id, eval_id, n_common, ds.n AS n_doc, es.n AS n_eval,
        |  round(CAST(n_common AS DOUBLE) / (ds.n + es.n - n_common), 6)
        |    AS jaccard
        |FROM inter
        |JOIN ds ON ds.id = doc_id
        |JOIN es ON es.id = eval_id
        |WHERE CAST(n_common AS DOUBLE) / (ds.n + es.n - n_common) >= 0.7"""
        .stripMargin,

    "q_source_cap" ->
      """SELECT doc_id, source, n_chars, rank_in_group
        |FROM (SELECT doc_id, source, n_chars,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY n_chars DESC, doc_id) AS rank_in_group
        |      FROM documents)
        |WHERE rank_in_group <= 15""".stripMargin,

    "q_shuffle_det" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch1'), doc_id)
        |    AS shuffle_pos
        |FROM documents""".stripMargin,

    "q_sim_bruteforce" ->
      """WITH q AS (SELECT vec_id AS q_id,
        |    CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings),
        |p AS (
        |  SELECT q_id, vec_id AS neighbor_id,
        |    list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv))
        |         * sqrt(list_dot_product(cv, cv))) AS cs
        |  FROM c, q WHERE q_id <> vec_id),
        |r AS (
        |  SELECT q_id AS query_id, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // IVF recall floor: n_queries/k are data-derived; the flag is the
    // healthy-engine invariant (brute-force side oracle-checked separately).
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_max([abs(x) for x in embedding]) AS DOUBLE) / 127.0
        |      AS scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS pos,
        |  CAST(CASE WHEN scale = 0 THEN 0 ELSE
        |    greatest(-127.0, least(127.0,
        |      floor(CAST(unnest(embedding) AS DOUBLE) / scale + 0.5)))
        |  END AS INT) AS qval
        |FROM s""".stripMargin,

    // the invariant flag is computed engine-side; the oracle pins the
    // query population and k (same pattern as q_sim_ivf)
    "q_sim_quantized" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, 5 AS k,
        | true AS recall_ge_08
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // quantized ANN index invariants (recall vs exact brute-force
    // ground truth, float-exact re-ranked similarities, byte
    // shrinkage direction — magnitude is AnnIndexScaleProbe's claim)
    // are measured and REQUIRED in-query; the oracle checks the
    // bracket surface
    "q_sim_index_q" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, 5 AS k,
        | true AS recall_ge_08, true AS sims_exact,
        | true AS bytes_smaller
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_sim_ivf" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, 5 AS k,
        | true AS recall_ge_half
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // persisted ANN index probed at nProbe = nlist: equals exact
    // brute-force top-k over the full corpus (same exact oracle as ivf_full)
    "q_sim_index" ->
      """WITH q AS (SELECT vec_id AS q_id,
        |    CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings),
        |p AS (
        |  SELECT q_id, vec_id AS neighbor_id,
        |    list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv))
        |         * sqrt(list_dot_product(cv, cv))) AS cs
        |  FROM c, q WHERE q_id <> vec_id),
        |r AS (
        |  SELECT q_id AS query_id, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // nProbe = nlist probes every cell: IVF output equals exact brute-force
    // top-k, so the oracle is the same exact query as q_sim_bruteforce.
    "q_sim_ivf_full" ->
      """WITH q AS (SELECT vec_id AS q_id,
        |    CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |    FROM embeddings),
        |p AS (
        |  SELECT q_id, vec_id AS neighbor_id,
        |    list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv))
        |         * sqrt(list_dot_product(cv, cv))) AS cs
        |  FROM c, q WHERE q_id <> vec_id),
        |r AS (
        |  SELECT q_id AS query_id, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // Multi-table LSH recall floor: exact cosine >= 0.2 pair count on the
    // vec_id < 500 subset plus the floor flag.
    "q_sim_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 500)
        |SELECT count(*) AS n_exact_pairs, true AS recall_floor_met
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.2""".stripMargin,

    "q_sim_blocked" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.2""".stripMargin,

    // Invariant oracle (q_approx_distinct pattern): the sketch estimate is
    // engine-specific; the exact side and the 5-sigma health flag are not.
    "q_hll_incremental" ->
      """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_exact,
        | true AS est_ok
        |FROM events""".stripMargin,

    // The exact side + bracket health flag are oracled; the sketch
    // estimate itself is excluded from the compare (its exact bytes are
    // implementation detail, its CORRECTNESS is the bracket flag).
    "q_kll_incremental" ->
      """SELECT 0.25 AS q, round(quantile_cont(value, 0.25), 6)
        |    AS value_exact,
        |  CAST(count(value) AS BIGINT) AS n_rows, true AS est_ok
        |FROM events
        |UNION ALL
        |SELECT 0.5, round(quantile_cont(value, 0.5), 6),
        |  CAST(count(value) AS BIGINT), true FROM events
        |UNION ALL
        |SELECT 0.75, round(quantile_cont(value, 0.75), 6),
        |  CAST(count(value) AS BIGINT), true FROM events
        |UNION ALL
        |SELECT 0.95, round(quantile_cont(value, 0.95), 6),
        |  CAST(count(value) AS BIGINT), true FROM events""".stripMargin,

    "q_cms_incremental" ->
      """WITH items AS (SELECT unnest(['click', 'error', 'purchase',
        |    'signup', 'view']) AS item),
        |exact AS (SELECT event_type AS item, count(*) AS n_exact
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(event_type) AS BIGINT) AS n_rows
        |  FROM events)
        |SELECT i.item, CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
        |  t.n_rows, true AS est_ok
        |FROM items i LEFT JOIN exact e ON i.item = e.item, t""".stripMargin,

    "q_funnel" ->
      s"""WITH s1 AS (
         |  SELECT user_id, min($TS) AS t1 FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (
         |  SELECT e.user_id, min($TS) AS t2 FROM events e
         |  JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND $TS > t1 GROUP BY e.user_id),
         |s3 AS (
         |  SELECT e.user_id, min($TS) AS t3 FROM events e
         |  JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND $TS > t2 GROUP BY e.user_id)
         |SELECT 1 AS stage_idx, 'view' AS stage,
         |  (SELECT count(*) FROM s1) AS n_users
         |UNION ALL
         |SELECT 2, 'click', (SELECT count(*) FROM s2)
         |UNION ALL
         |SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    "q_retention" ->
      s"""WITH days AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         |cohorts AS (
         |  SELECT user_id, min(d) AS c FROM days GROUP BY user_id)
         |SELECT c AS cohort_date, datediff('day', c, d) AS day_offset,
         |  count(DISTINCT user_id) AS n_users
         |FROM days JOIN cohorts USING (user_id)
         |GROUP BY 1, 2""".stripMargin,

    // Invariant oracle: sketch estimates are engine-specific; the exact
    // set sizes and the health flags are not.
    "q_theta_algebra" ->
      """WITH t AS (SELECT min(event_type) AS ta, max(event_type) AS tb
        |           FROM events),
        |au AS (SELECT DISTINCT user_id FROM events, t
        |       WHERE event_type = ta),
        |bu AS (SELECT DISTINCT user_id FROM events, t
        |       WHERE event_type = tb),
        |inter AS (SELECT count(*) AS n FROM au JOIN bu USING (user_id))
        |SELECT (SELECT ta FROM t) AS type_a, (SELECT tb FROM t) AS type_b,
        |  (SELECT count(*) FROM au) AS n_a_exact,
        |  (SELECT count(*) FROM bu) AS n_b_exact,
        |  (SELECT n FROM inter) AS n_inter_exact,
        |  (SELECT count(*) FROM au) + (SELECT count(*) FROM bu)
        |    - (SELECT n FROM inter) AS n_union_exact,
        |  true AS union_ok, true AS inter_ok, true AS diff_ok""".stripMargin,

    // Replays SemDedup.semanticDedup: sign cells over the first 4 dims,
    // within-cell cosine pairs (same IEEE dot/norm/divide tree as the
    // Spark side -> identical doubles -> identical >= cut), recursive
    // components, drop non-representatives.
    "q_semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v))) >= 0.42),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON e2.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> comp)"""
        .stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS asset_id, 'text' AS modality,
        | strlen(text) AS n_bytes, md5(text) AS content_md5
        |FROM documents""".stripMargin,

    // Replays decodeStub: checksum = first 15 md5 hex digits base-16
    // (60-bit, non-negative), width/height = 64 + bounded residues.
    "q_multimodal_decode" ->
      """WITH h AS (
        |  SELECT doc_id, strlen(text) AS n_bytes,
        |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
        |      AS checksum
        |  FROM documents)
        |SELECT doc_id AS asset_id, n_bytes,
        |  CAST(64 + checksum % 1024 AS INT) AS width,
        |  CAST(64 + (checksum // 7) % 1024 AS INT) AS height,
        |  checksum
        |FROM h""".stripMargin,

    // Replays extractFeatures (16-bucket integer byte histogram; documents
    // are ASCII so chars == bytes and ascii(c)//16 is the bucket) and the
    // blocked cosine self-join. Integer counts -> exact dot products and
    // norms -> bit-identical cosines, so the >= 0.99 cut selects the same
    // pair set in both engines.
    "q_multimodal_ann" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id, doc_id % 10 AS blk,
        |    list_transform(range(16), j -> CAST(len(list_filter(
        |      list_transform(split(text, ''), c -> ascii(c)),
        |      x -> x // 16 = j)) AS DOUBLE)) AS v
        |  FROM documents)
        |SELECT a.asset_id AS id1, b.asset_id AS id2,
        |  list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) AS cosine_sim
        |FROM f a JOIN f b ON a.blk = b.blk AND a.asset_id < b.asset_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.99""".stripMargin,

    // Replays the perceptual near-dup dedup: 256-bucket byte histogram
    // (ASCII corpus: chars == bytes), mean-centered; sign cells over 16
    // centered dims at bytes 97..112; within-cell cosine >= 0.995 via the
    // sparse identity dot(A-ā, B-b̄) = S_AB - totA*totB/256 and
    // norm² = Σcnt² - tot²/256 + dense-zero correction; components +
    // keep-min-id as in q_semantic_dedup. All quantities are binary
    // rationals (denominator 2^16) well inside the 53-bit mantissa, so
    // both engines compute the exact same cosines.
    "q_multimodal_dedup" ->
      """WITH RECURSIVE ch AS MATERIALIZED (
        |  SELECT doc_id, ascii(c) AS b
        |  FROM documents, unnest(split(text, '')) AS t(c)),
        |h AS MATERIALIZED (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS cnt
        |      FROM ch GROUP BY 1, 2),
        |tot AS MATERIALIZED (SELECT doc_id, sum(cnt) AS tot FROM h GROUP BY 1),
        |nrm AS MATERIALIZED (
        |  SELECT h.doc_id,
        |    sum((cnt - tot/256) * (cnt - tot/256))
        |      + (256 - count(*)) * (tot/256) * (tot/256) AS n2
        |  FROM h JOIN tot USING (doc_id) GROUP BY h.doc_id, tot),
        |cells AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    coalesce(sum(CASE WHEN h.b BETWEEN 97 AND 120
        |        AND h.cnt > t.tot/256
        |      THEN 1 << (h.b - 97) ELSE 0 END), 0) AS cell
        |  FROM tot t JOIN h ON h.doc_id = t.doc_id
        |  GROUP BY t.doc_id),
        |sab AS MATERIALIZED (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    sum(a.cnt * b.cnt) AS s
        |  FROM h a
        |  JOIN cells ca ON ca.doc_id = a.doc_id
        |  JOIN h b ON a.b = b.b AND a.doc_id < b.doc_id
        |  JOIN cells cb ON cb.doc_id = b.doc_id AND cb.cell = ca.cell
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT id1, id2
        |  FROM sab
        |  JOIN tot t1 ON t1.doc_id = id1
        |  JOIN tot t2 ON t2.doc_id = id2
        |  JOIN nrm n1 ON n1.doc_id = id1
        |  JOIN nrm n2 ON n2.doc_id = id2
        |  WHERE n1.n2 > 0 AND n2.n2 > 0
        |    AND (s - t1.tot * t2.tot / 256)
        |      / (sqrt(n1.n2) * sqrt(n2.n2)) >= 0.995),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON e2.a = r.b),
        |comp AS (
        |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        |SELECT doc_id AS asset_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)"""
        .stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id AS asset_id, k AS frame_idx,
        | CAST(floor(k * strlen(text) / 4.0) AS BIGINT) AS frame_offset,
        | strlen(text) AS n_bytes
        |FROM documents, (SELECT unnest([0, 1, 2, 3]) AS k)""".stripMargin,

    // Rebuilds resizeStub's every-4th-byte payload as a string (ASCII
    // corpus: chars == bytes) and hashes it.
    "q_multimodal_resize" ->
      """WITH r AS (
        |  SELECT doc_id AS asset_id,
        |    array_to_string(list_transform(
        |      range(CAST(ceil(strlen(text) / 4.0) AS BIGINT)),
        |      j -> text[CAST(j * 4 + 1 AS INT)]), '') AS s
        |  FROM documents)
        |SELECT asset_id, strlen(s) AS n_bytes, md5(s) AS content_md5
        |FROM r""".stripMargin,

    // Replays withEwm (West's recurrence): delta = x - m, incr = a*delta,
    // m' = m + incr, v' = (1-a)*(v + delta*incr); NULL bars emit NULLs but
    // carry state; seed m := first non-NULL bar, v := 0. Same IEEE
    // expression tree as the Scala fold -> bit-identical doubles.
    "q_ewm" ->
      ("WITH RECURSIVE\n" + hourlyBarsCte + ",\n" +
      s"""nb AS (
         |  SELECT event_type, hour_start, bar,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hour_start)
         |      AS rn
         |  FROM bars),
         |rec AS (
         |  SELECT event_type, hour_start, bar, rn,
         |    bar AS ewm_mean,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END
         |      AS ewm_var,
         |    bar AS st_m,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END AS st_v
         |  FROM nb WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, hour_start, bar, rn,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN st_m IS NULL THEN bar
         |         ELSE st_m + 2.0/21 * (bar - st_m) END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN st_m IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE (1 - 2.0/21)
         |           * (st_v + (bar - st_m) * (2.0/21 * (bar - st_m))) END,
         |    CASE WHEN bar IS NULL THEN st_m
         |         WHEN st_m IS NULL THEN bar
         |         ELSE st_m + 2.0/21 * (bar - st_m) END,
         |    CASE WHEN bar IS NULL THEN st_v
         |         WHEN st_m IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE (1 - 2.0/21)
         |           * (st_v + (bar - st_m) * (2.0/21 * (bar - st_m))) END
         |  FROM (SELECT b.event_type, b.hour_start, b.bar, b.rn,
         |          r.st_m, r.st_v
         |        FROM rec r JOIN nb b
         |          ON b.event_type = r.event_type AND b.rn = r.rn + 1))
         |SELECT event_type, hour_start, round(bar, 6) AS bar,
         |  round(ewm_mean, 6) AS ewm_mean, round(ewm_var, 6) AS ewm_var
         |FROM rec""".stripMargin),

    "q_cusum" ->
      ("WITH RECURSIVE\n" + hourlyBarsCte + ",\n" +
      s"""st AS (
         |  SELECT event_type,
         |    round(sum(bar), 4) / count(bar) AS mu,
         |    round(stddev_samp(bar), 6) AS sd
         |  FROM bars GROUP BY 1),
         |nb AS (
         |  SELECT b.event_type, b.hour_start, b.bar, st.mu, st.sd,
         |    row_number() OVER (PARTITION BY b.event_type
         |      ORDER BY b.hour_start) AS rn
         |  FROM bars b JOIN st USING (event_type)),
         |rec AS (
         |  SELECT event_type, hour_start, bar, mu, sd, rn,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN NULL
         |         ELSE greatest(CAST(0.0 AS DOUBLE), 0.0 + bar - mu - 0.5 * sd)
         |      END AS sp,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN NULL
         |         ELSE greatest(CAST(0.0 AS DOUBLE), 0.0 + mu - bar - 0.5 * sd)
         |      END AS sn,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE greatest(CAST(0.0 AS DOUBLE), 0.0 + bar - mu - 0.5 * sd)
         |      END AS st_p,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE greatest(CAST(0.0 AS DOUBLE), 0.0 + mu - bar - 0.5 * sd)
         |      END AS st_n
         |  FROM nb WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, hour_start, bar, mu, sd, rn,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN NULL
         |         ELSE greatest(CAST(0.0 AS DOUBLE), st_p + bar - mu - 0.5 * sd)
         |      END,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN NULL
         |         ELSE greatest(CAST(0.0 AS DOUBLE), st_n + mu - bar - 0.5 * sd)
         |      END,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN st_p
         |         ELSE greatest(CAST(0.0 AS DOUBLE), st_p + bar - mu - 0.5 * sd)
         |      END,
         |    CASE WHEN bar IS NULL OR sd IS NULL THEN st_n
         |         ELSE greatest(CAST(0.0 AS DOUBLE), st_n + mu - bar - 0.5 * sd)
         |      END
         |  FROM (SELECT b.event_type, b.hour_start, b.bar, b.mu, b.sd,
         |          b.rn, r.st_p, r.st_n
         |        FROM rec r JOIN nb b
         |          ON b.event_type = r.event_type AND b.rn = r.rn + 1))
         |SELECT event_type, hour_start, round(bar, 6) AS bar,
         |  round(sp, 6) AS cusum_pos, round(sn, 6) AS cusum_neg,
         |  CASE WHEN sp IS NULL THEN NULL
         |       ELSE sp > 4.0 * sd OR sn > 4.0 * sd END AS cusum_alarm
         |FROM rec""".stripMargin),

    "q_holt" ->
      ("WITH RECURSIVE\n" + hourlyBarsCte + ",\n" +
      s"""nb AS (
         |  SELECT event_type, hour_start, bar,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hour_start)
         |      AS rn
         |  FROM bars),
         |rec AS (
         |  SELECT event_type, hour_start, bar, rn,
         |    bar AS lvl,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END AS trd,
         |    CAST(NULL AS DOUBLE) AS fc,
         |    CAST(NULL AS DOUBLE) AS res,
         |    bar AS st_l,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END AS st_b
         |  FROM nb WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, hour_start, bar, rn,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN st_l IS NULL THEN bar
         |         ELSE 0.5 * bar + 0.5 * (st_l + st_b) END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN st_l IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE 0.25 * ((0.5 * bar + 0.5 * (st_l + st_b)) - st_l)
         |              + 0.75 * st_b END,
         |    CASE WHEN bar IS NULL OR st_l IS NULL THEN NULL
         |         ELSE st_l + st_b END,
         |    CASE WHEN bar IS NULL OR st_l IS NULL THEN NULL
         |         ELSE bar - (st_l + st_b) END,
         |    CASE WHEN bar IS NULL THEN st_l
         |         WHEN st_l IS NULL THEN bar
         |         ELSE 0.5 * bar + 0.5 * (st_l + st_b) END,
         |    CASE WHEN bar IS NULL THEN st_b
         |         WHEN st_l IS NULL THEN CAST(0.0 AS DOUBLE)
         |         ELSE 0.25 * ((0.5 * bar + 0.5 * (st_l + st_b)) - st_l)
         |              + 0.75 * st_b END
         |  FROM (SELECT b.event_type, b.hour_start, b.bar, b.rn,
         |          r.st_l, r.st_b
         |        FROM rec r JOIN nb b
         |          ON b.event_type = r.event_type AND b.rn = r.rn + 1))
         |SELECT event_type, hour_start, round(bar, 6) AS bar,
         |  round(lvl, 6) AS holt_level, round(trd, 6) AS holt_trend,
         |  round(fc, 6) AS holt_forecast, round(res, 6) AS holt_residual
         |FROM rec""".stripMargin),

    // ---------------------------------------------- technical indicators
    // Same float discipline as the Spark side (Indicators.scala scaladoc):
    // frame means divide a 4dp-rounded frame sum by the non-null frame
    // count, stddev is rounded at 6dp BEFORE band arithmetic, and derived
    // quantities recombine those already-identical doubles with the same
    // IEEE expression tree, so round(..., 6) at the end never straddles a
    // rounding boundary differently across engines.

    "q_bollinger" ->
      s"""WITH w AS (
         |  SELECT event_id, event_type, value,
         |    round(sum(value) OVER fr, 4) / nullif(count(value) OVER fr, 0)
         |      AS bb_ma,
         |    round(stddev_samp(value) OVER fr, 6) AS sd
         |  FROM events
         |  WINDOW fr AS (PARTITION BY event_type ORDER BY $TS, event_id
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT event_id, event_type, round(bb_ma, 6) AS bb_ma,
         |  round(bb_ma + 2.0 * sd, 6) AS bb_upper,
         |  round(bb_ma - 2.0 * sd, 6) AS bb_lower,
         |  round((value - (bb_ma - 2.0 * sd))
         |    / nullif((bb_ma + 2.0 * sd) - (bb_ma - 2.0 * sd), 0.0), 6)
         |    AS pct_b
         |FROM w""".stripMargin,

    "q_rsi" ->
      s"""WITH d AS (
         |  SELECT event_id, event_type, $TS AS tts, value,
         |    value - lag(value, 1) OVER (PARTITION BY event_type
         |      ORDER BY $TS, event_id) AS dd
         |  FROM events),
         |g AS (
         |  SELECT event_id, event_type, tts,
         |    CASE WHEN dd IS NOT NULL THEN greatest(dd, 0.0) END AS gain,
         |    CASE WHEN dd IS NOT NULL THEN greatest(-dd, 0.0) END AS loss
         |  FROM d),
         |f AS (
         |  SELECT event_id, event_type,
         |    round(sum(gain) OVER fr, 4) / nullif(count(gain) OVER fr, 0)
         |      AS ag,
         |    round(sum(loss) OVER fr, 4) / nullif(count(loss) OVER fr, 0)
         |      AS al
         |  FROM g
         |  WINDOW fr AS (PARTITION BY event_type ORDER BY tts, event_id
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT event_id, event_type,
         |  round(100.0 * ag / nullif(ag + al, 0.0), 6) AS rsi_14
         |FROM f""".stripMargin,

    "q_vwap_obv" ->
      s"""WITH d AS (
         |  SELECT event_id, event_type, user_id, value, $TS AS tts,
         |    value - lag(value, 1) OVER (PARTITION BY event_type
         |      ORDER BY $TS, event_id) AS dd
         |  FROM events)
         |SELECT event_id, event_type,
         |  round(round(sum(value * user_id) OVER wday, 4)
         |    / nullif(sum(user_id) OVER wday, 0), 6) AS vwap,
         |  coalesce(CAST(sum(CAST(sign(dd) AS BIGINT) * user_id) OVER wkey
         |    AS BIGINT), 0) AS obv
         |FROM d
         |WINDOW
         |  wday AS (PARTITION BY event_type, CAST(tts AS DATE)
         |    ORDER BY tts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wkey AS (PARTITION BY event_type ORDER BY tts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_stochastic" ->
      s"""WITH k AS (
         |  SELECT event_id, event_type, value, $TS AS tts,
         |    min(value) OVER fr AS don_lo,
         |    max(value) OVER fr AS don_hi
         |  FROM events
         |  WINDOW fr AS (PARTITION BY event_type ORDER BY $TS, event_id
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         |p AS (
         |  SELECT event_id, event_type, tts, don_lo, don_hi,
         |    100.0 * (value - don_lo) / nullif(don_hi - don_lo, 0.0) AS pct_k
         |  FROM k)
         |SELECT event_id, event_type,
         |  round(don_lo, 6) AS don_lo, round(don_hi, 6) AS don_hi,
         |  round(pct_k, 6) AS pct_k,
         |  round(round(sum(pct_k) OVER fd, 4)
         |    / nullif(count(pct_k) OVER fd, 0), 6) AS pct_d
         |FROM p
         |WINDOW fd AS (PARTITION BY event_type ORDER BY tts, event_id
         |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_drawdown" ->
      s"""WITH c AS (
         |  SELECT event_id, event_type, value,
         |    max(value) OVER fr AS run_max,
         |    first_value(value) OVER fr AS fv
         |  FROM events
         |  WINDOW fr AS (PARTITION BY event_type ORDER BY $TS, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, event_type, round(run_max, 6) AS run_max,
         |  round(value / nullif(run_max, 0.0) - 1.0, 6) AS drawdown,
         |  round(value / nullif(fv, 0.0) - 1.0, 6) AS cum_return
         |FROM c""".stripMargin,

    // Replays withEmaMacd's recurrence exactly: seed EMA := first non-NULL
    // bar (macd/signal/histogram := 0 on the seed row), then
    // EMA_t = a*x + (1-a)*EMA_{t-1} stepped one bar per recursion level;
    // NULL bars emit NULLs and leave state untouched. The smoothing
    // constants are written as the same IEEE expressions the Scala side
    // folds (2.0/13, 1 - 2.0/13, ...), so every step combines identical
    // doubles.
    "q_macd" ->
      ("WITH RECURSIVE\n" + hourlyBarsCte + ",\n" +
      s"""nb AS (
         |  SELECT event_type, hour_start, bar,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hour_start)
         |      AS rn
         |  FROM bars),
         |rec AS (
         |  SELECT event_type, hour_start, bar, rn,
         |    bar AS ema_fast, bar AS ema_slow,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END AS macd,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END
         |      AS signal,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END
         |      AS histogram,
         |    bar AS st_f, bar AS st_s,
         |    CASE WHEN bar IS NOT NULL THEN CAST(0.0 AS DOUBLE) END
         |      AS st_sig
         |  FROM nb WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, hour_start, bar, rn,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN NOT seeded THEN bar ELSE nf END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN NOT seeded THEN bar ELSE ns END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN NOT seeded THEN 0.0 ELSE nf - ns END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN NOT seeded THEN 0.0
         |         ELSE 2.0/10 * (nf - ns) + (1 - 2.0/10) * st_sig END,
         |    CASE WHEN bar IS NULL THEN NULL
         |         WHEN NOT seeded THEN 0.0
         |         ELSE (nf - ns)
         |           - (2.0/10 * (nf - ns) + (1 - 2.0/10) * st_sig) END,
         |    CASE WHEN bar IS NULL THEN st_f
         |         WHEN NOT seeded THEN bar ELSE nf END,
         |    CASE WHEN bar IS NULL THEN st_s
         |         WHEN NOT seeded THEN bar ELSE ns END,
         |    CASE WHEN bar IS NULL THEN st_sig
         |         WHEN NOT seeded THEN 0.0
         |         ELSE 2.0/10 * (nf - ns) + (1 - 2.0/10) * st_sig END
         |  FROM (
         |    SELECT b.event_type, b.hour_start, b.bar, b.rn,
         |      r.st_f, r.st_s, r.st_sig,
         |      r.st_f IS NOT NULL AS seeded,
         |      2.0/13 * b.bar + (1 - 2.0/13) * r.st_f AS nf,
         |      2.0/27 * b.bar + (1 - 2.0/27) * r.st_s AS ns
         |    FROM rec r JOIN nb b
         |      ON b.event_type = r.event_type AND b.rn = r.rn + 1))
         |SELECT event_type, hour_start, round(bar, 6) AS bar,
         |  round(ema_fast, 6) AS ema_fast, round(ema_slow, 6) AS ema_slow,
         |  round(macd, 6) AS macd, round(signal, 6) AS signal,
         |  round(histogram, 6) AS histogram
         |FROM rec""".stripMargin)
  )

  /** Shared hourly-bars CTE for the recurrence oracles (q_macd, q_ewm) —
    * the SQL twin of hourlyBars: one definition of the float-discipline
    * contract on both sides. */
  private def hourlyBarsCte: String =
    s"""bars AS (
       |  SELECT event_type,
       |    date_trunc('hour', $TS) AS hour_start,
       |    round(sum(value), 4) / nullif(count(value), 0) AS bar
       |  FROM events GROUP BY 1, 2)""".stripMargin
}
