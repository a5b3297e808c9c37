package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Incrementally-maintained materialized aggregate over a
 * [[VersionedTable]] — the consumer the change feed exists for, and the
 * scalable replacement for the reference's warehouse-sync pattern
 * (load_stream_to_snowflake.py:243-323 recomputes and re-MERGEs its
 * ENTIRE aggregate frame every cycle; a 100 TB lake cannot).
 *
 * A view is `GROUP BY groupCols` with COUNT(*) / SUM / AVG / MIN / MAX
 * / approx-DISTINCT measures, itself stored as a versioned table at
 * `viewRoot` (so the serving layer inherits time travel, pruned reads,
 * and concurrency). AVG rides the sum machinery (internal sum +
 * non-null count, divided at read); approx-DISTINCT is a mergeable HLL
 * sketch column — inserts union in, removals join the recompute
 * trigger below. [[refresh]] advances it to the source's current
 * version:
 *
 *  - **Delta path** (only COUNT/SUM/AVG measures): the
 *    [[VersionedTable.changeFeedCdf]] pre/post images make row-count and
 *    sum contributions subtractable, so the refresh reads the CHANGE
 *    FEED ONLY — zero source-table scans, cost O(|changed keys|) however
 *    large the source. Sums carry a per-measure non-null count so a
 *    group whose surviving values are all NULL serves NULL (matching a
 *    direct aggregate), not 0. Counts stay exact; double-typed sums
 *    incur normal floating re-association.
 *  - **Recompute path** (any MIN/MAX measure): deletes make extrema
 *    non-subtractable, so the AFFECTED GROUPS (distinct group keys in
 *    the feed — still O(|changes|) to find) are re-aggregated from the
 *    source and upserted. When the view groups by ONE column and the
 *    affected set is small (≤ [[InListCap]]), the re-read goes through
 *    the manifest's bloom/stats IN-probes and touches only files that
 *    can hold those groups; otherwise a broadcast semi join prunes
 *    after the scan.
 *
 * The synced source version rides the view table's own exactly-once txn
 * watermark (`matview:<srcRoot>` stream id), so it survives compaction
 * and vacuum like any streaming sink cursor, and a crashed refresh
 * replays idempotently. Groups whose last row disappears stay as
 * `__cnt = 0` tombstone rows (hidden by [[read]]); a later OPTIMIZE or
 * `deleteWhere(__cnt, 0, 0)` clears them — refresh never needs the
 * delete machinery on its hot path.
 */
object MatView {

  /** Measures: user-visible alias -> source column. AVG is stored as an
    * internal subtractable sum + non-null count (division happens at
    * read); DISTINCT is stored as a mergeable HLL sketch binary —
    * unions absorb inserts, removals force the group onto the recompute
    * path exactly like extrema (a sketch cannot subtract). */
  case class Spec(srcRoot: String, srcKeys: Seq[String],
                  groupCols: Seq[String],
                  sums: Seq[(String, String)],
                  mins: Seq[(String, String)],
                  maxs: Seq[(String, String)],
                  countAlias: Option[String],
                  buckets: Int,
                  avgs: Seq[(String, String)] = Nil,
                  distincts: Seq[(String, String)] = Nil) {
    /** Aliases whose STORED column name equals the served name. */
    private[graft] def measureAliases: Seq[String] =
      sums.map(_._1) ++ mins.map(_._1) ++ maxs.map(_._1)
    /** Every served measure alias (collision validation). */
    private[graft] def allAliases: Seq[String] =
      measureAliases ++ avgs.map(_._1) ++ distincts.map(_._1)
    /** The sum-like measures as stored: user sums plus each AVG's
      * internal sum — one code path maintains both. */
    private[graft] def sumsStored: Seq[(String, String)] =
      sums ++ avgs.map { case (a, c) => (avgSum(a), c) }
  }

  private def avgSum(alias: String) = s"__avg_$alias"
  private def dHll(alias: String) = s"__hll_$alias"

  /** Affected-group IN-probe cap: above this many distinct groups the
    * recompute path prunes by semi join instead of index probes. */
  val InListCap = 10000

  private val StreamPrefix = "matview:"
  private def specPath(viewRoot: String) = new Path(viewRoot, "_matview")
  private def b64e(s: String) = java.util.Base64.getEncoder
    .encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def b64d(s: String) = new String(
    java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
  private def nn(alias: String) = s"__nn_$alias"

  /** Define the view and run the initial full build (the ONLY full
    * source aggregation the view ever does). Returns the view version. */
  def create(spark: SparkSession, viewRoot: String, srcRoot: String,
             srcKeys: Seq[String], groupCols: Seq[String],
             sums: Seq[(String, String)] = Nil,
             mins: Seq[(String, String)] = Nil,
             maxs: Seq[(String, String)] = Nil,
             countAlias: Option[String] = None,
             buckets: Int = 16,
             avgs: Seq[(String, String)] = Nil,
             distincts: Seq[(String, String)] = Nil): Int = {
    require(groupCols.nonEmpty, "at least one group column")
    require(sums.nonEmpty || mins.nonEmpty || maxs.nonEmpty ||
      avgs.nonEmpty || distincts.nonEmpty ||
      countAlias.isDefined, "at least one measure")
    val spec = Spec(srcRoot, srcKeys, groupCols, sums, mins, maxs,
      countAlias, buckets, avgs, distincts)
    val aliases = spec.allAliases ++ countAlias
    require(aliases.distinct.length == aliases.length,
      s"duplicate measure alias: ${aliases.mkString(", ")}")
    require(aliases.forall(a => !groupCols.contains(a)),
      "a measure alias collides with a group column")
    val fs = specPath(viewRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // atomic claim (refuse to redefine): local-FS create(overwrite=false)
    // is exists-check-then-create, so the claim rides the same
    // O_CREAT|O_EXCL path every manifest claim does
    val out = VersionedTable.createExclusive(fs, specPath(viewRoot))
    try out.write(render(spec).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // a failed initial build must not leave the spec behind — CREATE
    // would otherwise be unretryable without manual cleanup
    try refresh(spark, viewRoot)
    catch { case t: Throwable =>
      try fs.delete(specPath(viewRoot), false)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
  }

  /** Advance the view to the source's current version (no-op when
    * already there). Returns the view's current version. */
  def refresh(spark: SparkSession, viewRoot: String): Int = {
    // every refresh owns the observables — a no-op or initial-build
    // refresh must not leave a previous refresh's fallback flag visible
    lastFullRecomputeTl.set(false)
    val spec = readSpec(spark, viewRoot)
    val srcCur = VersionedTable.currentVersion(spark, spec.srcRoot)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed version at ${spec.srcRoot}"))
    val streamId = StreamPrefix + spec.srcRoot
    val synced = VersionedTable.currentVersion(spark, viewRoot)
      .flatMap(_ => VersionedTable.lastTxn(spark, viewRoot, streamId))
    synced match {
      case Some(v) if v >= srcCur =>
        VersionedTable.currentVersion(spark, viewRoot).get
      case None => // initial full build — pinned to the watermarked
        // version: a source commit landing mid-build would otherwise be
        // included yet re-applied by the next refresh (double count)
        commit(spark, viewRoot, spec, srcCur,
          aggregate(VersionedTable.read(spark, spec.srcRoot, Some(srcCur)),
            spec))
      case Some(from) =>
        val feed = VersionedTable.changeFeedCdf(spark, spec.srcRoot,
          spec.srcKeys, from.toInt, srcCur)
        // pin the (group-sized) feed aggregation: it feeds the delta
        // rows, the rescan split, and the recompute's pruning probes.
        // smallQuery at this source frame: change-sized feeds plan
        // statically (one job per action instead of one per AQE stage)
        // and every derived frame inherits the session
        val delta = VersionedTable.smallQuery(feedDelta(spec, feed))
          .persist()
        val (rows, pins) = deltaGroups(spark, viewRoot, spec, delta, srcCur)
        try commit(spark, viewRoot, spec, srcCur, rows)
        finally (delta +: pins).foreach(_.unpersist())
    }
  }

  /** Whether `root` carries a materialized-view spec — the read path
    * uses this to serve a named MV's SERVED shape instead of its raw
    * backing table. */
  private[graft] def isView(spark: SparkSession, root: String): Boolean = {
    val p = specPath(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Source rescans the LAST [[refresh]] needed for extremum/sketch
    * measures (0 = the whole refresh ran from the feed alone; -1 = no
    * such refresh has run). Observability for tests and in-query
    * guards — PER THREAD, because the bench runs queries concurrently
    * and a process-global cell would let one query's refresh overwrite
    * the value another query is about to assert on. */
  private val lastRescan = new ThreadLocal[java.lang.Long] {
    override def initialValue: java.lang.Long = -1L
  }
  private[graft] def lastRescanGroups: Long = lastRescan.get

  /** Whether the LAST [[refresh]] took the full-recompute fallback
    * (mass-removal: the rescan set exceeded [[RescanFraction]] of the
    * view's live groups). Same per-thread observability contract as
    * [[lastRescanGroups]]. */
  private val lastFullRecomputeTl = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }
  private[graft] def lastFullRecompute: Boolean = lastFullRecomputeTl.get

  /** Mass-removal fallback threshold: when a refresh's rescan set
    * exceeds this fraction of the view's LIVE groups, the refresh
    * recomputes the WHOLE view from the source instead of broadcasting
    * a near-table-sized group-key set into the pruned path — past this
    * point the "pruned" rescan reads most of the source anyway, and the
    * broadcast of |groups| keys is pure overhead (a driver OOM at 100 TB
    * group cardinalities). [[JoinMatView]] applies the same threshold to
    * the dim's changed keys. */
  private[graft] val RescanFraction = 0.5

  /** The view's served contents: group columns + measures, tombstones
    * and internal columns hidden. */
  def read(spark: SparkSession, viewRoot: String,
           asOfVersion: Option[Int] = None): DataFrame = {
    val spec = readSpec(spark, viewRoot)
    val t = VersionedTable.read(spark, viewRoot, asOfVersion)
      .filter(col("__cnt") > 0)
    val cols = spec.groupCols.map(col) ++ spec.measureAliases.map(col) ++
      // AVG divides at read (sum NULL when the group's survivors are
      // all NULL, so NULL/0 serves NULL like a direct avg); DISTINCT is
      // the sketch's estimate
      spec.avgs.map { case (a, _) =>
        (col(avgSum(a)) / col(nn(avgSum(a)))).as(a) } ++
      spec.distincts.map { case (a, _) =>
        hll_sketch_estimate(col(dHll(a))).as(a) } ++
      spec.countAlias.map(a => col("__cnt").as(a))
    t.select(cols: _*)
  }

  /** Full group-state aggregation of `df` (tombstone-free): measures +
    * `__cnt` + a non-null count per SUM measure (what keeps all-NULL
    * groups serving NULL through delta maintenance). */
  private def aggregate(df: DataFrame, spec: Spec): DataFrame = {
    val aggs =
      spec.sumsStored.flatMap { case (a, c) => Seq(
        sum(col(c)).as(a), count(col(c)).as(nn(a))) } ++
        spec.mins.map { case (a, c) => min(col(c)).as(a) } ++
        spec.maxs.map { case (a, c) => max(col(c)).as(a) } ++
        spec.distincts.map { case (a, c) =>
          hll_sketch_agg(col(c)).as(dHll(a)) } :+
        count(lit(1)).as("__cnt")
    df.groupBy(spec.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group feed aggregation: signed sum/count contributions plus,
    * for extremum measures, the ADDED extreme (insert/postimage rows)
    * and the REMOVED extreme (delete/preimage rows) — the removed
    * extreme is what decides rescans: every removed value was IN the
    * group, so a removal can only have changed an extremum it EQUALS. */
  private def feedDelta(spec: Spec, feed: DataFrame): DataFrame = {
    val isAdd = col("op").isin("insert", "update_postimage")
    val w = when(isAdd, lit(1L)).otherwise(lit(-1L))
    val dAggs =
      spec.sumsStored.flatMap { case (a, c) => Seq(
        // NULL measure values contribute zero to the sum on both sides
        sum(when(col(c).isNotNull, col("__w") * col(c))).as(s"__d_$a"),
        sum(when(col(c).isNotNull, col("__w")).otherwise(lit(0L)))
          .as(s"__d_${nn(a)}")) } ++
      spec.mins.flatMap { case (a, c) => Seq(
        min(when(isAdd, col(c))).as(s"__add_$a"),
        min(when(!isAdd, col(c))).as(s"__rem_$a")) } ++
      spec.maxs.flatMap { case (a, c) => Seq(
        max(when(isAdd, col(c))).as(s"__add_$a"),
        max(when(!isAdd, col(c))).as(s"__rem_$a")) } ++
      spec.distincts.flatMap { case (a, c) => Seq(
        // the sketch of ADDED values unions into the stored sketch; any
        // non-null REMOVED value forces the group onto the recompute
        // path (a sketch cannot subtract)
        hll_sketch_agg(when(isAdd, col(c))).as(s"__addh_$a"),
        sum(when(!isAdd && col(c).isNotNull, lit(1L)).otherwise(lit(0L)))
          .as(s"__remn_$a")) } :+
      sum(col("__w")).as("__d_cnt")
    feed.withColumn("__w", w)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*)
  }

  /** Delta path: the per-group feed deltas left-joined against the
    * view's CURRENT rows decide every group's new state WITHOUT reading
    * the source — sums/counts are subtractable outright, and an
    * extremum only needs a source rescan when a REMOVED value equals
    * the recorded extreme (otherwise new extreme = least/greatest of
    * old and added). Only that provably-undecidable residue — typically
    * empty — goes through [[recomputeGroups]]'s pruned re-aggregation. */
  private def deltaGroups(spark: SparkSession, viewRoot: String,
                          spec: Spec, delta: DataFrame, srcCur: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val cur = VersionedTable.read(spark, viewRoot)
    val extrema = spec.mins ++ spec.maxs
    val curSel = cur.select(
      spec.groupCols.map(c => col(c).as(s"__v_$c")) ++
        spec.sumsStored.flatMap { case (a, _) => Seq(
          col(a).as(s"__v_$a"), col(nn(a)).as(s"__v_${nn(a)}")) } ++
        extrema.map { case (a, _) => col(a).as(s"__v_$a") } ++
        spec.distincts.map { case (a, _) =>
          col(dHll(a)).as(s"__v_${dHll(a)}") } :+
        col("__cnt").as("__v_cnt"): _*)
    val cond = spec.groupCols.map(c => col(c) <=> col(s"__v_$c"))
      .reduce(_ && _)
    val joined = delta.join(curSel, cond, "left")
    val newCnt = (coalesce(col("__v_cnt"), lit(0L)) + col("__d_cnt"))
      .cast(LongType)
    // rescan: the group survives AND some removed value hits its
    // recorded extreme (null-safe: a null recorded extreme means the
    // group held only NULLs — removals can't have been non-null), OR a
    // distinct-sketch measure lost any non-null value (not subtractable)
    val extremaHit = extrema.map { case (a, _) =>
      col(s"__rem_$a").isNotNull && (col(s"__rem_$a") <=> col(s"__v_$a")) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val distinctHit = spec.distincts.map { case (a, _) =>
      col(s"__remn_$a") > 0 }
      .reduceOption(_ || _).getOrElse(lit(false))
    val rescan = (extremaHit || distinctHit) && newCnt > 0
    def sumCols(a: String): Seq[org.apache.spark.sql.Column] = {
      val nnTotal = coalesce(col(s"__v_${nn(a)}"), lit(0L)) +
        coalesce(col(s"__d_${nn(a)}"), lit(0L))
      // groups new to the view start from zero; a group whose surviving
      // values are all NULL serves NULL like a direct sum would. Cast
      // pins the full build's sum type.
      Seq(
        when(nnTotal > 0,
          coalesce(col(s"__v_$a"), lit(0)) +
            coalesce(col(s"__d_$a"), lit(0)))
          .cast(cur.schema(a).dataType).as(a),
        nnTotal.cast(LongType).as(nn(a)))
    }
    val deltaRows = joined.filter(!rescan).select(
      spec.groupCols.map(col) ++
        spec.sumsStored.flatMap { case (a, _) => sumCols(a) } ++
        spec.mins.map { case (a, _) =>
          when(newCnt > 0, least(col(s"__v_$a"), col(s"__add_$a")))
            .as(a) } ++
        spec.maxs.map { case (a, _) =>
          when(newCnt > 0, greatest(col(s"__v_$a"), col(s"__add_$a")))
            .as(a) } ++
        spec.distincts.map { case (a, _) =>
          // no removals on this path (distinctHit routed them away):
          // new sketch = old ∪ added, either side alone when the other
          // is absent (brand-new group / no adds this refresh)
          val o = col(s"__v_${dHll(a)}")
          val ad = col(s"__addh_$a")
          when(newCnt > 0,
            when(o.isNull, ad).when(ad.isNull, o)
              .otherwise(hll_union(o, ad))).as(dHll(a)) } :+
        newCnt.as("__cnt"): _*)
    if (extrema.isEmpty && spec.distincts.isEmpty) {
      lastFullRecomputeTl.set(false)
      (deltaRows, Nil)
    } else {
      // pin the rescan keys: the recompute reads them several times
      // (IN-list collect, null probe, semi join, tombstone anti-join),
      // and counting them is the path's key observable
      val rescanKeys = joined.filter(rescan)
        .select(spec.groupCols.map(col): _*).persist()
      lastRescan.set(rescanKeys.count())
      lastFullRecomputeTl.set(false)
      if (lastRescanGroups == 0) (deltaRows, Seq(rescanKeys))
      else {
        // mass-removal fallback: past RescanFraction of the LIVE groups
        // the pruned path degenerates (IN/semi probes select most of the
        // source; the broadcast key set scales with the view), so
        // recompute the whole view instead — one full aggregation, the
        // same plan the initial build ran, plus tombstones for vanished
        // groups. The live count is one O(groups) scan of the view,
        // paid only on refreshes that already need a rescan.
        val liveGroups = cur.filter(col("__cnt") > 0).count()
        if (lastRescanGroups > RescanFraction * liveGroups) {
          lastFullRecomputeTl.set(true)
          (fullRecompute(spark, spec, cur, srcCur), Seq(rescanKeys))
        } else (deltaRows.unionByName(
          recomputeGroups(spark, spec, rescanKeys, srcCur)),
          Seq(rescanKeys))
      }
    }
  }

  /** Whole-view recompute (the mass-removal fallback): re-aggregate the
    * ENTIRE source at the pinned version — the initial build's plan —
    * and tombstone every currently-live group the new aggregate no
    * longer contains (the upsert only replaces keys it carries, so a
    * vanished group's stale row must be overwritten explicitly). The
    * anti-join is group-keyed and unhinted: both sides are
    * O(|groups|), so AQE picks the strategy. */
  private def fullRecompute(spark: SparkSession, spec: Spec,
                            cur: DataFrame, srcCur: Int): DataFrame = {
    val rec = aggregate(
      VersionedTable.read(spark, spec.srcRoot, Some(srcCur)), spec)
    val recKeys = rec.select(spec.groupCols.map(c =>
      col(c).as(s"__r_$c")): _*)
    val dead = cur.filter(col("__cnt") > 0)
      .select(spec.groupCols.map(col): _*)
      .join(recKeys,
        spec.groupCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _),
        "left_anti")
    val deadRows = rec.columns.filterNot(spec.groupCols.contains)
      .foldLeft(dead)((d, a) => d.withColumn(a,
        if (a == "__cnt") lit(0L)
        else lit(null).cast(rec.schema(a).dataType)))
    rec.unionByName(deadRows.select(rec.columns.map(col).toSeq: _*))
  }

  /** Recompute path: re-aggregate ONLY the groups the feed names —
    * through the source's index probes when they fit [[InListCap]],
    * by broadcast semi join otherwise. Vanished groups come back as
    * explicit `__cnt = 0` tombstones overwriting their stale rows. */
  private def recomputeGroups(spark: SparkSession, spec: Spec,
                              affected: DataFrame, srcCur: Int): DataFrame = {
    val src = prunedSource(spark, spec, affected, srcCur)
    val aff = affected.select(spec.groupCols.map(c =>
      col(c).as(s"__a_$c")): _*)
    val semiCond = spec.groupCols.map(c => col(c) <=> col(s"__a_$c"))
      .reduce(_ && _)
    val rec = aggregate(src.join(broadcast(aff), semiCond, "left_semi"),
      spec)
    val recKeys = rec.select(spec.groupCols.map(c =>
      col(c).as(s"__r_$c")): _*)
    val dead = affected.join(broadcast(recKeys),
      spec.groupCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _),
      "left_anti")
    val deadRows = rec.columns.filterNot(spec.groupCols.contains)
      .foldLeft(dead)((d, a) => d.withColumn(a,
        if (a == "__cnt") lit(0L)
        else lit(null).cast(rec.schema(a).dataType)))
    rec.unionByName(deadRows.select(rec.columns.map(col).toSeq: _*))
  }

  /** Index-pruned source read when the single-column affected set is
    * small enough to collect; full read (semi-joined by the caller)
    * otherwise. The collect is bounded by [[InListCap]]+1 rows. */
  private def prunedSource(spark: SparkSession, spec: Spec,
                           affected: DataFrame, srcCur: Int): DataFrame =
    if (spec.groupCols.length == 1) {
      val g = spec.groupCols.head
      val vals = affected.filter(col(g).isNotNull)
        .limit(InListCap + 1).collect().map(_.get(0)).toSeq
      val hasNull = affected.filter(col(g).isNull).limit(1).count() > 0
      if (vals.length > InListCap)
        VersionedTable.read(spark, spec.srcRoot, Some(srcCur))
      else {
        val pruned = VersionedTable.readConstrained(spark, spec.srcRoot,
          Seq(VersionedTable.ColConstraint(g, None, None, None,
            inSet = Some(vals))), Some(srcCur))
        // IN-probes cannot select NULL-group files; when a null group
        // was touched, take nulls from a dedicated slice and EXCLUDE
        // them from the probed side (kept files still carry their
        // null-group rows — unioning both would double-count them)
        if (!hasNull) pruned
        else pruned.filter(col(g).isNotNull)
          .unionByName(VersionedTable.read(spark, spec.srcRoot, Some(srcCur))
            .filter(col(g).isNull))
      }
    } else VersionedTable.read(spark, spec.srcRoot, Some(srcCur))

  /** Upsert the changed group rows into the view table under the synced
    * source version's txn watermark. The frame is pinned first: upsert
    * evaluates it several times, and each evaluation would otherwise
    * re-run the two-version feed join. */
  private def commit(spark: SparkSession, viewRoot: String, spec: Spec,
                     srcVersion: Int, rows: DataFrame): Int = {
    val withBucket = VersionedTable.smallQuery(rows.withColumn("__bucket",
      pmod(xxhash64(spec.groupCols.map(col): _*), lit(spec.buckets))
        .cast("int"))).persist()
    // materialize the cache BEFORE the upsert: an unmaterialized
    // InMemoryRelation reports its origin plan's PROPAGATED size (join-
    // multiplied, effectively infinite for a refresh delta), so the
    // commit's static-vs-AQE gate never saw the refresh rows' real
    // (view-sized) bytes; the count builds the cache the write scans
    // anyway and the gate then reads the cached size
    withBucket.count()
    // __bucket is a pure function of the group columns, so adding it to
    // the merge key changes nothing semantically and satisfies the
    // partCols-within-keys contract
    try VersionedTable.upsert(spark, viewRoot, withBucket,
      keys = spec.groupCols :+ "__bucket", partCols = Seq("__bucket"),
      txn = Some((StreamPrefix + spec.srcRoot, srcVersion.toLong)))
    finally withBucket.unpersist()
  }

  private def render(spec: Spec): String = {
    val sb = new StringBuilder("#graft-matview\t1\n")
    sb.append("#src\t").append(b64e(spec.srcRoot)).append('\n')
    sb.append("#keys\t").append(spec.srcKeys.map(b64e).mkString("\t"))
      .append('\n')
    sb.append("#groups\t").append(spec.groupCols.map(b64e).mkString("\t"))
      .append('\n')
    spec.sums.foreach { case (a, c) =>
      sb.append("#sum\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.mins.foreach { case (a, c) =>
      sb.append("#min\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.maxs.foreach { case (a, c) =>
      sb.append("#max\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.avgs.foreach { case (a, c) =>
      sb.append("#avg\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.distincts.foreach { case (a, c) =>
      sb.append("#dct\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.countAlias.foreach(a =>
      sb.append("#count\t").append(b64e(a)).append('\n'))
    sb.append("#buckets\t").append(spec.buckets).append('\n')
    sb.toString
  }

  private[graft] def readSpec(spark: SparkSession,
                              viewRoot: String): Spec = {
    val p = specPath(viewRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(
      s"no materialized view at $viewRoot (missing ${p.getName})")
    val in = fs.open(p)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("#graft-matview\t1")),
      s"unrecognized matview spec at $viewRoot")
    def one(tag: String) = lines.collectFirst {
      case l if l.startsWith(s"#$tag\t") => l.split("\t", -1).drop(1).toSeq }
    def pairs(tag: String) = lines.toSeq.collect {
      case l if l.startsWith(s"#$tag\t") =>
        val p = l.split("\t", -1); (b64d(p(1)), b64d(p(2))) }
    Spec(
      srcRoot = b64d(one("src").get.head),
      srcKeys = one("keys").get.filter(_.nonEmpty).map(b64d),
      groupCols = one("groups").get.filter(_.nonEmpty).map(b64d),
      sums = pairs("sum"), mins = pairs("min"), maxs = pairs("max"),
      countAlias = one("count").map(s => b64d(s.head)),
      buckets = one("buckets").get.head.toInt,
      avgs = pairs("avg"), distincts = pairs("dct"))
  }
}
