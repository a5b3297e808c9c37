package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Incrementally-maintained materialized AGGREGATE-over-EQUI-JOIN view —
 * the reference's core serving shape (an aggregate join fed to a MERGE
 * loop, spark_stream_processor.py:216-234 →
 * load_stream_to_snowflake.py:243-323, which recomputes the whole
 * joined aggregate every cycle; a 100 TB lake cannot).
 *
 * The view is `SELECT groupCols, SUM/AVG/COUNT(measures) FROM fact F
 * JOIN dim D ON F.fk = D.pk GROUP BY groupCols`, stored as a versioned
 * table (time travel, pruned reads, txn watermarks). Group columns and
 * measure columns may come from EITHER side; the dim's primary key is
 * its recorded merge keys, so one dim row per pk holds at every version
 * and the join never fans out.
 *
 * [[refresh]] advances the view to BOTH sources' current versions with
 * the standard incremental-view-maintenance identity over signed row
 * multisets:
 *
 *   Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD
 *
 *  - **ΔF leg**: the fact change feed (CDF pre/post images, signed)
 *    joins the dimension's CURRENT version — O(|fact changes|).
 *  - **ΔD leg**: the dimension change feed (signed) joins the fact
 *    table PINNED at its last-synced version, read PRUNED to the
 *    changed dim keys (bloom/stats IN-probes when the key set fits
 *    [[MatView.InListCap]], broadcast semi join past it) — the
 *    affected-key rescan, touching only fact files that can hold
 *    rows of changed dim keys.
 *
 * Because every measure is subtractable (COUNT/SUM, AVG as an internal
 * sum + non-null count), both legs fold into per-group signed deltas
 * joined against the view's current rows — no group ever re-aggregates
 * from scratch on the delta path. A dimension change touching more than
 * [[MatView.RescanFraction]] of the dim's rows falls back to
 * ONE full recompute (the initial build's plan) plus a group-keyed
 * tombstone anti-join, the [[MatView]] mass-removal discipline.
 *
 * Both source watermarks commit ATOMICALLY in the view's one refresh
 * manifest (`upsert(..., txn, extraTxns)`), so a crash can never leave
 * the view synced to one source but not the other, and a replayed
 * refresh aborts idempotently on either tag.
 *
 * MIN/MAX/approx-DISTINCT measures are refused at create: deletes make
 * them non-subtractable and the affected-GROUP rescan over a join is a
 * different machine — use a single-table [[MatView]] over a
 * pre-joined table for those today.
 */
object JoinMatView {

  /** `fkCols(i)` on the fact side joins `dimKeys(i)` (the dim table's
    * recorded merge keys, FROZEN at create). Measures: alias -> source
    * column (fact or dim side, resolved at create). */
  case class Spec(factRoot: String, factKeys: Seq[String],
                  dimRoot: String, dimKeys: Seq[String],
                  fkCols: Seq[String], groupCols: Seq[String],
                  sums: Seq[(String, String)],
                  avgs: Seq[(String, String)],
                  countAlias: Option[String],
                  buckets: Int) {
    private[graft] def sumsStored: Seq[(String, String)] =
      sums ++ avgs.map { case (a, c) => (avgSum(a), c) }
  }

  private def avgSum(alias: String) = s"__javg_$alias"
  private def nn(alias: String) = s"__nn_$alias"
  private val FactPrefix = "matviewj:"
  private val DimPrefix = "matviewjd:"
  private def specPath(viewRoot: String) = new Path(viewRoot, "_matviewj")

  /** Whether the LAST [[refresh]] took the full-recompute fallback —
    * per-thread, the [[MatView.lastFullRecompute]] contract. The
    * q_matview_join in-query guard pins that a surgical source update
    * stays on the delta path. */
  private val lastFullTl = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }
  private[graft] def lastFullRecompute: Boolean = lastFullTl.get

  /** Fact rows the LAST refresh's ΔD leg re-read (-1 = no ΔD leg ran;
    * 0 = dim unchanged). Observability for the pruning claim. */
  private val lastDimKeysTl = new ThreadLocal[java.lang.Long] {
    override def initialValue: java.lang.Long = -1L
  }
  private[graft] def lastDimChangedKeys: Long = lastDimKeysTl.get

  /** Define the view and run the initial full build (the only time the
    * whole fact table joins the whole dim). Returns the view version. */
  def create(spark: SparkSession, viewRoot: String,
             factRoot: String, dimRoot: String, fkCols: Seq[String],
             groupCols: Seq[String],
             sums: Seq[(String, String)] = Nil,
             avgs: Seq[(String, String)] = Nil,
             countAlias: Option[String] = None,
             buckets: Int = 16): Int = {
    require(groupCols.nonEmpty, "at least one group column")
    require(sums.nonEmpty || avgs.nonEmpty || countAlias.isDefined,
      "at least one measure")
    val factM = VersionedTable.resolveManifest(spark, factRoot, None)
    val dimM = VersionedTable.resolveManifest(spark, dimRoot, None)
    require(dimM.keys.nonEmpty,
      s"dim table $dimRoot records no merge keys — the join side's pk " +
        "uniqueness is what makes the view's join fan-out-free")
    require(fkCols.length == dimM.keys.length,
      s"fkCols (${fkCols.mkString(",")}) must align with the dim's " +
        s"recorded keys (${dimM.keys.mkString(",")})")
    fkCols.foreach(c => require(factM.schema.fieldNames.contains(c),
      s"fact join column $c not in ${factRoot}'s schema"))
    val spec = Spec(factRoot, factM.keys, dimRoot, dimM.keys, fkCols,
      groupCols, sums, avgs, countAlias, buckets)
    val aliases = (sums ++ avgs).map(_._1) ++ countAlias
    require(aliases.distinct.length == aliases.length,
      s"duplicate measure alias: ${aliases.mkString(", ")}")
    require(aliases.forall(a => !groupCols.contains(a)),
      "a measure alias collides with a group column")
    // every referenced column must resolve to exactly ONE side now —
    // an ambiguity or a dim-pk reference refusing at first refresh
    // instead of CREATE would leave a bricked spec behind
    (groupCols ++ (sums ++ avgs).map(_._2)).foreach { c =>
      sideOf(spec, factM.schema.fieldNames.toSeq,
        dimM.schema.fieldNames.toSeq)(c)
    }
    SpecFile.writeExclusive(spark, specPath(viewRoot), render(spec))
    try refresh(spark, viewRoot)
    catch { case t: Throwable =>
      try SpecFile.fs(spark, specPath(viewRoot))
        .delete(specPath(viewRoot), false)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
  }

  /** Which side a referenced column lives on: Left(fact) / Right(dim
    * attr). Fact wins a tie with a dim NON-key attr only by refusal
    * (ambiguous); a dim KEY name that also exists on the fact side
    * resolves to the fact column (equal under the inner join). */
  private def sideOf(spec: Spec, factCols: Seq[String],
                     dimCols: Seq[String])(c: String)
      : Either[String, String] = {
    val inFact = factCols.contains(c)
    val dimAttr = dimCols.contains(c) && !spec.dimKeys.contains(c)
    if (inFact && dimAttr) throw new IllegalArgumentException(
      s"column '$c' exists on both the fact and dim side — rename one " +
        "(the view cannot guess)")
    else if (inFact) Left(c)
    else if (dimAttr) Right(c)
    else if (spec.dimKeys.contains(c)) throw new IllegalArgumentException(
      s"column '$c' is the dim's join key — reference the fact-side " +
        s"join column (${spec.fkCols(spec.dimKeys.indexOf(c))}) instead")
    else throw new IllegalArgumentException(
      s"column '$c' exists on neither side of the join")
  }

  /** The joined frame: fact columns verbatim, dim keys renamed away
    * (internal), dim attrs the view USES carried over. Both sides
    * projected to used columns only, so the scans prune. */
  private def joined(spec: Spec, fact: DataFrame, dim: DataFrame,
                     factExtra: Seq[String] = Nil,
                     dimExtra: Seq[String] = Nil): DataFrame = {
    val side = sideOf(spec, fact.columns.toSeq.filterNot(factExtra.contains),
      dim.columns.toSeq.filterNot(dimExtra.contains)) _
    val used = (spec.groupCols ++ spec.sumsStored.map(_._2)).distinct
    val factUsed = (used.filter(c => side(c).isLeft) ++ spec.fkCols ++
      factExtra).distinct
    val dimUsed = used.filter(c => side(c).isRight).distinct
    val d = dim.select(spec.dimKeys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__jk_$i") } ++ dimUsed.map(col) ++
      dimExtra.map(col): _*)
    val cond = spec.fkCols.zipWithIndex.map { case (fk, i) =>
      col(fk) === col(s"__jk_$i") }.reduce(_ && _)
    fact.select(factUsed.map(col): _*).join(d, cond, "inner")
  }

  /** Full group-state aggregation of a joined frame: stored sums +
    * per-sum non-null counts + `__cnt` — the [[MatView]] layout. */
  private def aggregate(jn: DataFrame, spec: Spec): DataFrame = {
    val aggs = spec.sumsStored.flatMap { case (a, c) => Seq(
      sum(col(c)).as(a), count(col(c)).as(nn(a))) } :+
      count(lit(1)).as("__cnt")
    jn.groupBy(spec.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Advance the view to BOTH sources' current versions (no-op when
    * already there). Returns the view's current version. */
  def refresh(spark: SparkSession, viewRoot: String): Int = {
    lastFullTl.set(false)
    lastDimKeysTl.set(-1L)
    val spec = readSpec(spark, viewRoot)
    def cur(root: String) = VersionedTable.currentVersion(spark, root)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed version at $root"))
    val (fCur, dCur) = (cur(spec.factRoot), cur(spec.dimRoot))
    val viewExists = VersionedTable.currentVersion(spark, viewRoot)
    val fFrom = viewExists.flatMap(_ =>
      VersionedTable.lastTxn(spark, viewRoot, FactPrefix + spec.factRoot))
    val dFrom = viewExists.flatMap(_ =>
      VersionedTable.lastTxn(spark, viewRoot, DimPrefix + spec.dimRoot))
    (fFrom, dFrom) match {
      case (Some(f), Some(d)) if f >= fCur && d >= dCur =>
        VersionedTable.currentVersion(spark, viewRoot).get
      case (Some(f), Some(d)) =>
        val rows = deltaRows(spark, viewRoot, spec, f.toInt, fCur,
          d.toInt, dCur)
        // only ADVANCING watermarks are written: re-tagging the
        // unmoved source at its old value would trip the txn
        // idempotence abort and silently drop the whole refresh
        commit(spark, viewRoot, spec,
          Option.when(fCur > f)(fCur), Option.when(dCur > d)(dCur), rows)
      case _ => // initial full build, both sides pinned at the
        // watermarked versions (a commit landing mid-build would
        // otherwise be included yet re-applied by the next refresh)
        commit(spark, viewRoot, spec, Some(fCur), Some(dCur), aggregate(
          joined(spec, VersionedTable.read(spark, spec.factRoot, Some(fCur)),
            VersionedTable.read(spark, spec.dimRoot, Some(dCur))), spec))
    }
  }

  /** The incremental refresh: signed joined-row legs → per-group
    * deltas → join against the view's current rows → new group states.
    * Falls back to a full recompute when the dim change set exceeds
    * [[MatView.RescanFraction]] of the dim's rows. */
  private def deltaRows(spark: SparkSession, viewRoot: String, spec: Spec,
                        fFrom: Int, fCur: Int, dFrom: Int, dCur: Int)
      : DataFrame = {
    val isAdd = col("op").isin("insert", "update_postimage")
    // ΔF ⋈ D_new: signed fact CDF rows against the dim's current version
    val factLeg: Option[DataFrame] =
      if (fCur > fFrom) Some(joined(spec,
        VersionedTable.changeFeedCdf(spark, spec.factRoot, spec.factKeys,
          fFrom, fCur),
        VersionedTable.read(spark, spec.dimRoot, Some(dCur)),
        factExtra = Seq("op")))
      else None
    // F_old ⋈ ΔD: the fact PINNED at fFrom, pruned to changed dim keys,
    // against signed dim CDF rows
    val dimLeg: Option[DataFrame] =
      if (dCur > dFrom) {
        val cdfD = VersionedTable.smallQuery(
          VersionedTable.changeFeedCdf(spark, spec.dimRoot,
            spec.dimKeys, dFrom, dCur)).persist()
        val nKeys = cdfD.select(spec.dimKeys.map(col): _*).distinct()
          .count()
        lastDimKeysTl.set(nKeys)
        // mass dim change: past RescanFraction of the dim, the "pruned"
        // fact re-read selects most of the table — one full recompute
        // (the initial build's plan) beats it, exactly the MatView
        // mass-removal fallback. Dim row count is a metadata fold.
        val dimRows =
          VersionedTable.read(spark, spec.dimRoot, Some(dCur)).count()
        if (nKeys > MatView.RescanFraction * math.max(dimRows, 1L)) {
          cdfD.unpersist()
          lastFullTl.set(true)
          return fullRecompute(spark, viewRoot, spec, fCur, dCur)
        }
        val factOld = prunedFact(spark, spec, cdfD, nKeys, fFrom)
        val leg = joined(spec, factOld, cdfD, dimExtra = Seq("op"))
        cdfD.unpersist() // plan captured; re-evaluation re-reads the CDF
        Some(leg)
      } else { lastDimKeysTl.set(0L); None }
    val feed = (factLeg, dimLeg) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (a, b) => a.orElse(b).get // at least one side moved
    }
    // per-group signed deltas (the MatView feedDelta shape, sums only)
    val w = when(isAdd, lit(1L)).otherwise(lit(-1L))
    val dAggs = spec.sumsStored.flatMap { case (a, c) => Seq(
      sum(when(col(c).isNotNull, col("__w") * col(c))).as(s"__d_$a"),
      sum(when(col(c).isNotNull, col("__w")).otherwise(lit(0L)))
        .as(s"__d_${nn(a)}")) } :+
      sum(col("__w")).as("__d_cnt")
    val delta = feed.withColumn("__w", w)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*)
    // join the view's current rows: new state = old + delta
    val cur = VersionedTable.read(spark, viewRoot)
    val curSel = cur.select(
      spec.groupCols.map(c => col(c).as(s"__v_$c")) ++
        spec.sumsStored.flatMap { case (a, _) => Seq(
          col(a).as(s"__v_$a"), col(nn(a)).as(s"__v_${nn(a)}")) } :+
        col("__cnt").as("__v_cnt"): _*)
    val cond = spec.groupCols.map(c => col(c) <=> col(s"__v_$c"))
      .reduce(_ && _)
    val newCnt = (coalesce(col("__v_cnt"), lit(0L)) + col("__d_cnt"))
      .cast(LongType)
    delta.join(curSel, cond, "left").select(
      spec.groupCols.map(col) ++
        spec.sumsStored.flatMap { case (a, _) =>
          val nnTotal = coalesce(col(s"__v_${nn(a)}"), lit(0L)) +
            coalesce(col(s"__d_${nn(a)}"), lit(0L))
          Seq(
            when(nnTotal > 0,
              coalesce(col(s"__v_$a"), lit(0)) +
                coalesce(col(s"__d_$a"), lit(0)))
              .cast(cur.schema(a).dataType).as(a),
            nnTotal.cast(LongType).as(nn(a)))
        } :+ newCnt.as("__cnt"): _*)
  }

  /** The fact table at `fFrom`, read pruned to the changed dim keys:
    * IN-probes through the fact's bloom/stats indexes when the
    * single-column key set fits [[MatView.InListCap]]; a broadcast
    * semi join against the (feed-sized) key frame otherwise. Soundness
    * never depends on the pruning: the join in the caller re-filters. */
  private def prunedFact(spark: SparkSession, spec: Spec, cdfD: DataFrame,
                         nKeys: Long, fFrom: Int): DataFrame = {
    val full = VersionedTable.read(spark, spec.factRoot, Some(fFrom))
    if (spec.fkCols.length == 1 && nKeys <= MatView.InListCap) {
      val vals = cdfD.select(col(spec.dimKeys.head)).distinct()
        .collect().map(_.get(0)).toSeq.filter(_ != null)
      if (vals.isEmpty) full.limit(0)
      else VersionedTable.readConstrained(spark, spec.factRoot,
        Seq(VersionedTable.ColConstraint(spec.fkCols.head, None, None,
          None, inSet = Some(vals))), Some(fFrom))
    } else {
      val keyFrame = cdfD.select(spec.dimKeys.zipWithIndex.map {
        case (k, i) => col(k).as(s"__sk_$i") }: _*).distinct()
      val cond = spec.fkCols.zipWithIndex.map { case (fk, i) =>
        col(fk) === col(s"__sk_$i") }.reduce(_ && _)
      full.join(broadcast(keyFrame), cond, "left_semi")
    }
  }

  /** Whole-view recompute (mass dim change): re-aggregate the full join
    * at the pinned versions and tombstone vanished live groups. */
  private def fullRecompute(spark: SparkSession, viewRoot: String,
                            spec: Spec, fCur: Int, dCur: Int): DataFrame = {
    val rec = aggregate(joined(spec,
      VersionedTable.read(spark, spec.factRoot, Some(fCur)),
      VersionedTable.read(spark, spec.dimRoot, Some(dCur))), spec)
    val cur = VersionedTable.read(spark, viewRoot)
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

  /** The view's served contents: group columns + measures (AVG divided
    * at read), tombstones hidden. */
  def read(spark: SparkSession, viewRoot: String,
           asOfVersion: Option[Int] = None): DataFrame = {
    val spec = readSpec(spark, viewRoot)
    val t = VersionedTable.read(spark, viewRoot, asOfVersion)
      .filter(col("__cnt") > 0)
    val cols = spec.groupCols.map(col) ++ spec.sums.map(s => col(s._1)) ++
      spec.avgs.map { case (a, _) =>
        (col(avgSum(a)) / col(nn(avgSum(a)))).as(a) } ++
      spec.countAlias.map(a => col("__cnt").as(a))
    t.select(cols: _*)
  }

  /** Every advancing watermark lands in ONE manifest: a crash can never
    * leave the view synced to the fact but not the dim. Non-advancing
    * tags are omitted (the manifest carries the old value forward), so
    * a fact-only refresh never trips the dim tag's idempotence abort. */
  private def commit(spark: SparkSession, viewRoot: String, spec: Spec,
                     fVer: Option[Int], dVer: Option[Int],
                     rows: DataFrame): Int = {
    val tags = fVer.map(v => (FactPrefix + spec.factRoot, v.toLong)).toSeq ++
      dVer.map(v => (DimPrefix + spec.dimRoot, v.toLong))
    val withBucket = VersionedTable.smallQuery(rows.withColumn("__bucket",
      pmod(xxhash64(spec.groupCols.map(col): _*), lit(spec.buckets))
        .cast("int"))).persist()
    // materialize before the upsert (see MatView.commit): the gate then
    // reads the cached refresh rows' REAL bytes instead of the origin
    // join's propagated estimate, so a view-sized refresh commits on the
    // static path and rides the delta probe
    withBucket.count()
    try VersionedTable.upsert(spark, viewRoot, withBucket,
      keys = spec.groupCols :+ "__bucket", partCols = Seq("__bucket"),
      txn = tags.headOption, extraTxns = tags.drop(1))
    finally withBucket.unpersist()
  }

  private[graft] def isView(spark: SparkSession, root: String): Boolean = {
    val p = specPath(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def render(spec: Spec): String = {
    import SpecFile.b64e
    val sb = new StringBuilder("#graft-matviewj\t1\n")
    def seqLine(tag: String, xs: Seq[String]): Unit =
      sb.append(s"#$tag\t").append(xs.map(b64e).mkString("\t")).append('\n')
    seqLine("fact", Seq(spec.factRoot))
    seqLine("fkeys", spec.factKeys)
    seqLine("dim", Seq(spec.dimRoot))
    seqLine("dkeys", spec.dimKeys)
    seqLine("fk", spec.fkCols)
    seqLine("groups", spec.groupCols)
    spec.sums.foreach { case (a, c) =>
      sb.append("#sum\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.avgs.foreach { case (a, c) =>
      sb.append("#avg\t").append(b64e(a)).append('\t').append(b64e(c))
        .append('\n') }
    spec.countAlias.foreach(a =>
      sb.append("#count\t").append(b64e(a)).append('\n'))
    sb.append("#buckets\t").append(spec.buckets).append('\n')
    sb.toString
  }

  private[graft] def readSpec(spark: SparkSession,
                              viewRoot: String): Spec = {
    import SpecFile.b64d
    val text = SpecFile.readText(spark, specPath(viewRoot),
      s"no join materialized view at $viewRoot (missing _matviewj)")
    val lines = text.split("\n").filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("#graft-matviewj\t1")),
      s"unrecognized join-matview spec at $viewRoot")
    def one(tag: String) = lines.collectFirst {
      case l if l.startsWith(s"#$tag\t") =>
        l.split("\t", -1).drop(1).toSeq }
    def pairs(tag: String) = lines.toSeq.collect {
      case l if l.startsWith(s"#$tag\t") =>
        val p = l.split("\t", -1); (b64d(p(1)), b64d(p(2))) }
    Spec(
      factRoot = b64d(one("fact").get.head),
      factKeys = one("fkeys").get.filter(_.nonEmpty).map(b64d),
      dimRoot = b64d(one("dim").get.head),
      dimKeys = one("dkeys").get.filter(_.nonEmpty).map(b64d),
      fkCols = one("fk").get.filter(_.nonEmpty).map(b64d),
      groupCols = one("groups").get.filter(_.nonEmpty).map(b64d),
      sums = pairs("sum"), avgs = pairs("avg"),
      countAlias = one("count").map(s => b64d(s.head)),
      buckets = one("buckets").get.head.toInt)
  }
}
