package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The join half of an incrementally-maintained AGGREGATE-over-EQUI-JOIN
 * view — the reference's core serving shape (an aggregate join fed to a
 * MERGE loop, spark_stream_processor.py:216-234 →
 * load_stream_to_snowflake.py:243-323, which recomputes the whole
 * joined aggregate every cycle; a 100 TB lake cannot).
 *
 * The view is `SELECT groupCols, SUM/AVG/COUNT(measures) FROM fact F
 * JOIN dim D ON F.fk = D.pk GROUP BY groupCols`. It IS a [[MatView]]
 * whose `Spec.join` names the dim side: [[MatView.refresh]],
 * [[MatView.read]] and the view's one `_matview` spec serve it like any
 * other view. Group columns and measure columns may come from EITHER
 * side; the dim's primary key is its recorded merge keys, so one dim row
 * per pk holds at every version and the join never fans out.
 *
 * What is specific to the join lives here: [[create]]'s validation,
 * [[joined]] (the source rows of the initial build and of a full
 * recompute), and [[feed]] — each refresh's signed source rows by the
 * standard incremental-view-maintenance identity over signed row
 * multisets:
 *
 *   Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD
 *
 *  - **ΔF leg**: the fact change feed (CDF pre/post images, signed)
 *    joins the dimension's CURRENT version — O(|fact changes|).
 *  - **ΔD leg**: the dimension change feed (signed) joins the fact
 *    table PINNED at its last-synced version, read PRUNED to the
 *    changed dim keys ([[prunedFact]]) — the affected-key rescan,
 *    touching only fact files that can hold rows of changed dim keys.
 *
 * Because every measure is subtractable (COUNT/SUM, AVG as an internal
 * sum + non-null count), MatView folds both legs into per-group signed
 * deltas on its delta path. A dimension change touching more than
 * [[MatView.RescanFraction]] of the dim's rows makes [[feed]] return
 * None, and MatView runs ONE full recompute instead.
 *
 * MIN/MAX/approx-DISTINCT measures are refused at create: deletes make
 * them non-subtractable and the affected-GROUP rescan over a join is a
 * different machine — use a single-table [[MatView]] over a
 * pre-joined table for those today.
 */
object JoinMatView {
  import MatView.{Join, Spec}

  /** Changed dim keys the LAST [[MatView.refresh]]'s ΔD leg re-read fact
    * rows for (-1 = no ΔD leg ran; 0 = dim unchanged). Per-thread, the
    * [[MatView.lastFullRecompute]] contract; observability for the
    * pruning claim. */
  private[ops] val lastDimKeysTl = new ThreadLocal[java.lang.Long] {
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
    val j = Join(dimRoot, dimM.keys, fkCols)
    // every referenced column must resolve to exactly ONE side now —
    // an ambiguity or a dim-pk reference refusing at first refresh
    // instead of CREATE would leave a bricked spec behind
    (groupCols ++ (sums ++ avgs).map(_._2)).foreach(sideOf(j,
      factM.schema.fieldNames.toSeq, dimM.schema.fieldNames.toSeq))
    MatView.define(spark, viewRoot, Spec(factRoot, factM.keys, groupCols,
      sums, Nil, Nil, countAlias, buckets, avgs, join = Some(j)))
  }

  /** Which side a referenced column lives on: Left(fact) / Right(dim
    * attr). Fact wins a tie with a dim NON-key attr only by refusal
    * (ambiguous); a dim KEY name that also exists on the fact side
    * resolves to the fact column (equal under the inner join). */
  private def sideOf(j: Join, factCols: Seq[String],
                     dimCols: Seq[String])(c: String)
      : Either[String, String] = {
    val inFact = factCols.contains(c)
    val dimAttr = dimCols.contains(c) && !j.dimKeys.contains(c)
    if (inFact && dimAttr) throw new IllegalArgumentException(
      s"column '$c' exists on both the fact and dim side — rename one " +
        "(the view cannot guess)")
    else if (inFact) Left(c)
    else if (dimAttr) Right(c)
    else if (j.dimKeys.contains(c)) throw new IllegalArgumentException(
      s"column '$c' is the dim's join key — reference the fact-side " +
        s"join column (${j.fkCols(j.dimKeys.indexOf(c))}) instead")
    else throw new IllegalArgumentException(
      s"column '$c' exists on neither side of the join")
  }

  /** The joined frame: fact columns verbatim, dim keys renamed away
    * (internal), dim attrs the view USES carried over. Both sides
    * projected to used columns only, so the scans prune. */
  private[ops] def joined(spec: Spec, j: Join, fact: DataFrame,
                          dim: DataFrame, factExtra: Seq[String] = Nil,
                          dimExtra: Seq[String] = Nil): DataFrame = {
    val side = sideOf(j, fact.columns.toSeq.filterNot(factExtra.contains),
      dim.columns.toSeq.filterNot(dimExtra.contains)) _
    val used = (spec.groupCols ++ spec.sumsStored.map(_._2)).distinct
    val factUsed = (used.filter(c => side(c).isLeft) ++ j.fkCols ++
      factExtra).distinct
    val dimUsed = used.filter(c => side(c).isRight).distinct
    val d = dim.select(j.dimKeys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__jk_$i") } ++ dimUsed.map(col) ++
      dimExtra.map(col): _*)
    val cond = j.fkCols.zipWithIndex.map { case (fk, i) =>
      col(fk) === col(s"__jk_$i") }.reduce(_ && _)
    fact.select(factUsed.map(col): _*).join(d, cond, "inner")
  }

  /** One refresh's signed source rows, `op` marking each row's sign as
    * in a change feed: ΔF ⋈ D_new ∪ F_old ⋈ ΔD for whichever sides moved
    * between `from` and `cur` (fact, dim — [[MatView.Spec.sources]]
    * order; at least one moved). None when the dim change set exceeds
    * [[MatView.RescanFraction]] of the dim's rows: past it the "pruned"
    * fact re-read selects most of the table, so the caller's one full
    * recompute (the initial build's plan) beats it. */
  private[ops] def feed(spark: SparkSession, spec: Spec, from: Seq[Int],
                        cur: Seq[Int]): Option[DataFrame] = {
    val j = spec.join.get
    val (fFrom, dFrom, fCur, dCur) = (from(0), from(1), cur(0), cur(1))
    // ΔF ⋈ D_new: signed fact CDF rows against the dim's current version
    val factLeg = Option.when(fCur > fFrom)(joined(spec, j,
      VersionedTable.changeFeedCdf(spark, spec.srcRoot, spec.srcKeys,
        fFrom, fCur),
      VersionedTable.read(spark, j.dimRoot, Some(dCur)),
      factExtra = Seq("op")))
    if (dCur <= dFrom) { lastDimKeysTl.set(0L); factLeg }
    else {
      // F_old ⋈ ΔD: the fact PINNED at fFrom, pruned to changed dim
      // keys, against signed dim CDF rows
      val cdfD = VersionedTable.smallQuery(
        VersionedTable.changeFeedCdf(spark, j.dimRoot,
          j.dimKeys, dFrom, dCur)).persist()
      val nKeys = cdfD.select(j.dimKeys.map(col): _*).distinct().count()
      lastDimKeysTl.set(nKeys)
      // dim row count is a metadata fold
      val dimRows =
        VersionedTable.read(spark, j.dimRoot, Some(dCur)).count()
      if (nKeys > MatView.RescanFraction * math.max(dimRows, 1L)) {
        cdfD.unpersist()
        None
      } else {
        val leg = joined(spec, j, prunedFact(spark, spec, j, cdfD, nKeys,
          fFrom), cdfD, dimExtra = Seq("op"))
        cdfD.unpersist() // plan captured; re-evaluation re-reads the CDF
        Some(factLeg.fold(leg)(_.unionByName(leg)))
      }
    }
  }

  /** The fact table at `fFrom`, read pruned to the changed dim keys:
    * IN-probes through the fact's bloom/stats indexes when the
    * single-column key set fits [[MatView.InListCap]]; a broadcast
    * semi join against the (feed-sized) key frame otherwise. Soundness
    * never depends on the pruning: the join in the caller re-filters. */
  private def prunedFact(spark: SparkSession, spec: Spec, j: Join,
                         cdfD: DataFrame, nKeys: Long,
                         fFrom: Int): DataFrame = {
    val full = VersionedTable.read(spark, spec.srcRoot, Some(fFrom))
    if (j.fkCols.length == 1 && nKeys <= MatView.InListCap) {
      val vals = cdfD.select(col(j.dimKeys.head)).distinct()
        .collect().map(_.get(0)).toSeq.filter(_ != null)
      if (vals.isEmpty) full.limit(0)
      else VersionedTable.readConstrained(spark, spec.srcRoot,
        Seq(VersionedTable.ColConstraint(j.fkCols.head, None, None,
          None, inSet = Some(vals))), Some(fFrom))
    } else {
      val keyFrame = cdfD.select(j.dimKeys.zipWithIndex.map {
        case (k, i) => col(k).as(s"__sk_$i") }: _*).distinct()
      val cond = j.fkCols.zipWithIndex.map { case (fk, i) =>
        col(fk) === col(s"__sk_$i") }.reduce(_ && _)
      full.join(broadcast(keyFrame), cond, "left_semi")
    }
  }
}
