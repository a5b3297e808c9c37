package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Incrementally-maintained materialized aggregate over [[VersionedTable]]
 * sources — the consumer the change feed exists for, and the scalable
 * replacement for the reference's warehouse-sync pattern
 * (load_stream_to_snowflake.py:243-323 recomputes and re-MERGEs its
 * ENTIRE aggregate frame every cycle; a 100 TB lake cannot).
 *
 * A view is `GROUP BY groupCols` with COUNT(*) / SUM / AVG / MIN / MAX
 * / approx-DISTINCT measures, itself stored as a versioned table at
 * `viewRoot` (so the serving layer inherits time travel, pruned reads,
 * and concurrency). Its source rows come from ONE table, or — when
 * `Spec.join` names a dim side — through a fact ⋈ dim equi-join whose
 * signed change rows [[JoinMatView.feed]] builds. Either way this one
 * engine reads, refreshes and commits the view. AVG rides the sum
 * machinery (internal sum + non-null count, divided at read);
 * approx-DISTINCT is a mergeable HLL sketch column — inserts union in,
 * removals join the recompute trigger below. [[refresh]] advances the
 * view to every source's current version:
 *
 *  - **Delta path** (only COUNT/SUM/AVG measures): the signed change
 *    rows ([[VersionedTable.changeFeedCdf]] pre/post images, or the
 *    join's ΔF ⋈ D_new ∪ F_old ⋈ ΔD legs) make row-count and sum
 *    contributions subtractable, so a single-table refresh reads the
 *    CHANGE FEED ONLY — zero source-table scans, cost O(|changed keys|)
 *    however large the source. Sums carry a per-measure non-null count
 *    so a group whose surviving values are all NULL serves NULL
 *    (matching a direct aggregate), not 0. Counts stay exact;
 *    double-typed sums incur normal floating re-association.
 *  - **Recompute path** (any MIN/MAX/DISTINCT measure; single-table
 *    views only — [[JoinMatView.create]] refuses them): deletes make
 *    extrema non-subtractable, so the AFFECTED GROUPS (distinct group
 *    keys in the feed — still O(|changes|) to find) are re-aggregated
 *    from the source and upserted. When the view groups by ONE column
 *    and the affected set is small (≤ [[InListCap]]), the re-read goes
 *    through the manifest's bloom/stats IN-probes and touches only files
 *    that can hold those groups; otherwise a broadcast semi join prunes
 *    after the scan.
 *  - **Full recompute** (past [[RescanFraction]]: a rescan set of most
 *    live groups, or a join's mass dim change): the initial build's
 *    plan plus tombstones for vanished groups.
 *
 * Each source's synced version rides the view table's own exactly-once
 * txn watermark (`Spec.sources`), so it survives compaction and vacuum
 * like any streaming sink cursor, and a crashed refresh replays
 * idempotently. Every advancing watermark commits in the refresh's ONE
 * manifest, so a join view is never synced to one source but not the
 * other. Groups whose last row disappears stay as `__cnt = 0` tombstone
 * rows (hidden by [[read]]); a later OPTIMIZE or
 * `deleteWhere(__cnt, 0, 0)` clears them — refresh never needs the
 * delete machinery on its hot path.
 */
object MatView {

  /** A join view's dim side: the source's `fkCols(i)` joins the dim's
    * `dimKeys(i)` (its recorded merge keys, FROZEN at create). */
  case class Join(dimRoot: String, dimKeys: Seq[String],
                  fkCols: Seq[String])

  /** Measures: user-visible alias -> source column. AVG is stored as an
    * internal subtractable sum + non-null count (division happens at
    * read); DISTINCT is stored as a mergeable HLL sketch binary —
    * unions absorb inserts, removals force the group onto the recompute
    * path exactly like extrema (a sketch cannot subtract). A join view's
    * `srcRoot`/`srcKeys` are the fact side's. */
  case class Spec(srcRoot: String, srcKeys: Seq[String],
                  groupCols: Seq[String],
                  sums: Seq[(String, String)],
                  mins: Seq[(String, String)],
                  maxs: Seq[(String, String)],
                  countAlias: Option[String],
                  buckets: Int,
                  avgs: Seq[(String, String)] = Nil,
                  distincts: Seq[(String, String)] = Nil,
                  join: Option[Join] = None) {
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
    /** Each source's txn stream id and root, fact first: the view's
      * watermarks, in commit-tag order. */
    private[graft] def sources: Seq[(String, String)] = join match {
      case None => Seq((s"matview:$srcRoot", srcRoot))
      case Some(j) => Seq((s"matviewj:$srcRoot", srcRoot),
        (s"matviewjd:${j.dimRoot}", j.dimRoot))
    }
  }

  private def avgSum(alias: String) = s"__avg_$alias"
  private def dHll(alias: String) = s"__hll_$alias"

  /** Affected-group IN-probe cap: above this many distinct groups the
    * recompute path prunes by semi join instead of index probes. */
  val InListCap = 10000

  private def specPath(viewRoot: String) = new Path(viewRoot, "_matview")
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
    define(spark, viewRoot, Spec(srcRoot, srcKeys, groupCols, sums, mins,
      maxs, countAlias, buckets, avgs, distincts))
  }

  /** Claim the view's spec file (refusing to redefine) and run the
    * initial build. A failed build removes the claim, so CREATE stays
    * retryable without manual cleanup. */
  private[ops] def define(spark: SparkSession, viewRoot: String,
                          spec: Spec): Int = {
    val aliases = spec.allAliases ++ spec.countAlias
    require(aliases.distinct.length == aliases.length,
      s"duplicate measure alias: ${aliases.mkString(", ")}")
    require(aliases.forall(a => !spec.groupCols.contains(a)),
      "a measure alias collides with a group column")
    val p = specPath(viewRoot)
    SpecFile.writeExclusive(spark, p, render(spec))
    try refresh(spark, viewRoot)
    catch { case t: Throwable =>
      try SpecFile.fs(spark, p).delete(p, false)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
  }

  /** Advance the view to every source's current version (no-op when
    * already there). Returns the view's current version. */
  def refresh(spark: SparkSession, viewRoot: String): Int = {
    // every refresh owns the observables — a no-op or initial-build
    // refresh must not leave a previous refresh's values visible
    lastFullRecomputeTl.set(false)
    JoinMatView.lastDimKeysTl.set(-1L)
    val spec = readSpec(spark, viewRoot)
    val (ids, roots) = spec.sources.unzip
    val cur = roots.map(r => VersionedTable.currentVersion(spark, r)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed version at $r")))
    val viewCur = VersionedTable.currentVersion(spark, viewRoot)
    val synced = ids.map(id =>
      viewCur.flatMap(_ => VersionedTable.lastTxn(spark, viewRoot, id)))
    if (synced.exists(_.isEmpty))
      // initial full build — pinned to the watermarked versions: a
      // source commit landing mid-build would otherwise be included yet
      // re-applied by the next refresh (double count)
      commit(spark, viewRoot, spec, ids.zip(cur.map(_.toLong)),
        aggregate(source(spark, spec, cur), spec))
    else {
      val from = synced.map(_.get.toInt)
      // only ADVANCING watermarks are written: re-tagging an unmoved
      // source at its old value would trip the txn idempotence abort
      // and silently drop the whole refresh
      val tags = ids.zip(cur).zip(from).collect {
        case ((id, c), f) if c > f => (id, c.toLong) }
      if (tags.isEmpty) viewCur.get
      else {
        // a join view's signed rows come through the join; None = a mass
        // dim change, past which the whole view is recomputed
        val feed = spec.join match {
          case None => Some(VersionedTable.changeFeedCdf(spark,
            spec.srcRoot, spec.srcKeys, from.head, cur.head))
          case Some(_) => JoinMatView.feed(spark, spec, from, cur)
        }
        feed match {
          case None =>
            lastFullRecomputeTl.set(true)
            commit(spark, viewRoot, spec, tags, fullRecompute(spark, spec,
              VersionedTable.read(spark, viewRoot), cur))
          case Some(f) =>
            // pin the (group-sized) feed aggregation: it feeds the delta
            // rows, the rescan split, and the recompute's pruning
            // probes. smallQuery at this source frame: change-sized
            // feeds plan statically (one job per action instead of one
            // per AQE stage) and every derived frame inherits the session
            val delta = VersionedTable.smallQuery(feedDelta(spec, f))
              .persist()
            val (rows, pins) =
              deltaGroups(spark, viewRoot, spec, delta, cur)
            try commit(spark, viewRoot, spec, tags, rows)
            finally (delta +: pins).foreach(_.unpersist())
        }
      }
    }
  }

  /** The view's source rows pinned at `at` (one version per source):
    * the source table, or a join view's fact ⋈ dim. */
  private def source(spark: SparkSession, spec: Spec,
                     at: Seq[Int]): DataFrame = {
    val src = VersionedTable.read(spark, spec.srcRoot, Some(at.head))
    spec.join.fold(src)(j => JoinMatView.joined(spec, j, src,
      VersionedTable.read(spark, j.dimRoot, Some(at(1)))))
  }

  /** Whether `root` carries a materialized-view spec — the read path
    * uses this to serve a named MV's SERVED shape instead of its raw
    * backing table. */
  private[graft] def isView(spark: SparkSession, root: String): Boolean = {
    val p = specPath(root)
    SpecFile.fs(spark, p).exists(p)
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
    * view's live groups, or a join view's changed dim keys exceeded it
    * of the dim's rows). Same per-thread observability contract as
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
    * group cardinalities). [[JoinMatView.feed]] applies the same
    * threshold to the dim's changed keys against the dim's rows. */
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
                          spec: Spec, delta: DataFrame, srcCur: Seq[Int])
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
    if (extrema.isEmpty && spec.distincts.isEmpty) (deltaRows, Nil)
    else {
      // pin the rescan keys: the recompute reads them several times
      // (IN-list collect, null probe, semi join, tombstone anti-join),
      // and counting them is the path's key observable
      val rescanKeys = joined.filter(rescan)
        .select(spec.groupCols.map(col): _*).persist()
      lastRescan.set(rescanKeys.count())
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
          recomputeGroups(spark, spec, rescanKeys, srcCur.head)),
          Seq(rescanKeys))
      }
    }
  }

  /** Whole-view recompute (the mass-removal fallback): re-aggregate the
    * ENTIRE source at the pinned versions — the initial build's plan —
    * and tombstone every currently-live group the new aggregate no
    * longer contains (the upsert only replaces keys it carries, so a
    * vanished group's stale row must be overwritten explicitly). The
    * anti-join is group-keyed and unhinted: both sides are
    * O(|groups|), so AQE picks the strategy. */
  private def fullRecompute(spark: SparkSession, spec: Spec,
                            cur: DataFrame, srcCur: Seq[Int]): DataFrame =
    withTombstones(spec, aggregate(source(spark, spec, srcCur), spec),
      cur.filter(col("__cnt") > 0).select(spec.groupCols.map(col): _*),
      smallRec = false)

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
    withTombstones(spec, aggregate(src.join(broadcast(aff), semiCond,
      "left_semi"), spec), affected, smallRec = true)
  }

  /** `rec` plus an explicit `__cnt = 0` tombstone (NULL measures) for
    * every group of `keys` that `rec` no longer holds — the stale row of
    * a vanished group is overwritten, never left serving. `smallRec`
    * broadcasts `rec`'s group keys (an affected-group recompute); a
    * whole-view recompute leaves the strategy to AQE. */
  private def withTombstones(spec: Spec, rec: DataFrame, keys: DataFrame,
                             smallRec: Boolean): DataFrame = {
    val recKeys = rec.select(spec.groupCols.map(c =>
      col(c).as(s"__r_$c")): _*)
    val dead = keys.join(if (smallRec) broadcast(recKeys) else recKeys,
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

  /** Upsert the changed group rows into the view table under the
    * advancing source watermarks `tags`, all in ONE manifest: a crash can
    * never leave a join view synced to the fact but not the dim. The
    * frame is pinned first: upsert evaluates it several times, and each
    * evaluation would otherwise re-run the two-version feed join. */
  private def commit(spark: SparkSession, viewRoot: String, spec: Spec,
                     tags: Seq[(String, Long)], rows: DataFrame): Int = {
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
      txn = tags.headOption, extraTxns = tags.drop(1))
    finally withBucket.unpersist()
  }

  private def render(spec: Spec): String = {
    import SpecFile.b64e
    val sb = new StringBuilder("#graft-matview\t1\n")
    def line(tag: String, xs: Seq[String]): Unit =
      sb.append(s"#$tag\t").append(xs.map(b64e).mkString("\t")).append('\n')
    line("src", Seq(spec.srcRoot))
    line("keys", spec.srcKeys)
    line("groups", spec.groupCols)
    Seq("sum" -> spec.sums, "min" -> spec.mins, "max" -> spec.maxs,
      "avg" -> spec.avgs, "dct" -> spec.distincts).foreach { case (t, ms) =>
      ms.foreach { case (a, c) => line(t, Seq(a, c)) } }
    spec.countAlias.foreach(a => line("count", Seq(a)))
    spec.join.foreach { j =>
      line("dim", Seq(j.dimRoot))
      line("dkeys", j.dimKeys)
      line("fk", j.fkCols)
    }
    sb.append("#buckets\t").append(spec.buckets).append('\n')
    sb.toString
  }

  private[graft] def readSpec(spark: SparkSession,
                              viewRoot: String): Spec = {
    import SpecFile.b64d
    val text = SpecFile.readText(spark, specPath(viewRoot),
      s"no materialized view at $viewRoot (missing _matview)")
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("#graft-matview\t1")),
      s"unrecognized matview spec at $viewRoot")
    def fields(tag: String) = lines.collect {
      case l if l.startsWith(s"#$tag\t") => l.split("\t", -1).toSeq.drop(1) }
    def one(tag: String) =
      fields(tag).headOption.map(_.filter(_.nonEmpty).map(b64d))
    def pairs(tag: String) = fields(tag).map(p => (b64d(p(0)), b64d(p(1))))
    Spec(
      srcRoot = one("src").get.head,
      srcKeys = one("keys").get,
      groupCols = one("groups").get,
      sums = pairs("sum"), mins = pairs("min"), maxs = pairs("max"),
      countAlias = one("count").map(_.head),
      buckets = fields("buckets").head.head.toInt,
      avgs = pairs("avg"), distincts = pairs("dct"),
      join = one("dim").map(d => Join(d.head, one("dkeys").get,
        one("fk").get)))
  }
}
