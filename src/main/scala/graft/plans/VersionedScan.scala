package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, NamedExpression, Not, PredicateHelper,
  StartsWith}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.VersionedTable

/**
 * Ordinary `.filter(...)` / SQL WHERE syntax over a [[VersionedTable]]
 * with AUTOMATIC manifest file skipping — the tier-c integration: a
 * custom leaf [[LogicalPlan]] ([[VersionedRelation]]) plus an optimizer
 * [[Rule]] ([[PruneVersionedScan]]) that sees the filters Catalyst has
 * pushed down next to the leaf, extracts the sound per-column facts
 * (bounds, equalities, IN-lists, string prefixes, nullness), and
 * substitutes the pruned scan (one file-source relation over the
 * surviving dirs and files) — so a user writes
 *
 * {{{ VersionedScan.table(spark, root).filter($"v".between(40, 59)) }}}
 *
 * (or registers a temp view and uses plain SQL) and files whose recorded
 * min/max or bloom cannot match are never listed in the physical plan;
 * predicates on PARTITION columns prune whole directories before any file
 * stats are consulted. The original Filter node STAYS on top of the
 * substituted scan, so any predicate shape the extractor does not
 * understand — disjunctions, UDFs — is simply not used for pruning and
 * still filters rows: soundness never depends on extraction completeness.
 */
object VersionedScan {

  /** A versioned table as a DataFrame whose scan is planned LAZILY by the
    * optimizer rule — filters applied on top (before any action) prune
    * files. Self-registering (thread-safe via GraftExtensions'
    * registration lock): an unresolved [[VersionedRelation]] reaching the
    * planner is an inscrutable internal error, so the rule is added to
    * the session idempotently here (cluster-wide installs via
    * [[graft.GraftExtensions]] are detected and not doubled). The
    * manifest is resolved ONCE here and pinned on the relation, so the
    * optimizer rule performs no filesystem I/O per plan compilation and
    * never needs SparkSession.active. */
  def table(spark: SparkSession, root: String,
            asOfVersion: Option[Int] = None): DataFrame =
    PlanBridge.dataFrame(spark, plan(spark, root, asOfVersion))

  /** The bare logical plan behind [[table]] — also the body of the
    * `graft_table(root [, version])` SQL table function (registered via
    * [[graft.GraftExtensions]]), so plain SQL gets the same pinned
    * relation, file pruning, and metadata-aggregate folding. */
  private[graft] def plan(spark: SparkSession, root: String,
                          asOfVersion: Option[Int] = None): LogicalPlan = {
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(PruneVersionedScan))
      graft.GraftExtensions.addOptimizations(spark, Seq(PruneVersionedScan))
    // PIN the version NOW (snapshot semantics): the rule substitutes the
    // scan at action time, and an unpinned relation would silently read
    // whatever version is current then — or crash rebinding attributes if
    // schema evolution dropped a column in between. The manifest rides
    // along: it is immutable once committed, so caching it is exact.
    val cur = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    val v = asOfVersion.orElse(Some(cur))
    // version already resolved above: ONE history listing per plan build
    val m = VersionedTable.resolveManifestAt(spark, root, v.get, cur)
    VersionedRelation(root, v, m.schema,
      DataTypeUtils.toAttributes(m.schema))(m, spark)
  }

  /** Resolve a time-travel LITERAL to a version: INT = VERSION AS OF;
    * STRING ('yyyy-MM-dd' or 'yyyy-MM-dd HH:mm:ss', UTC) / DATE /
    * TIMESTAMP = TIMESTAMP AS OF against the commit markers' times.
    * Shared by the `graft_table(root, v)` table function and named
    * `FOR VERSION|TIMESTAMP AS OF` resolution. The Int match is pinned
    * to IntegerType: DATE literals are Int-backed (epoch days) and would
    * otherwise silently read version 19731 for DATE '2024-01-08'. */
  private[graft] def literalAsOf(spark: SparkSession, root: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{DateType, IntegerType, TimestampType}
    def atMillis(txt: String, ms: Long): Int =
      VersionedTable.versionAsOf(spark, root, ms).getOrElse(
        throw new IllegalArgumentException(
          s"no version committed at or before '$txt' at $root"))
    e match {
      case Literal(v: Int, IntegerType) => v
      case l @ Literal(days: Int, DateType) =>
        atMillis(l.toString, java.time.LocalDate.ofEpochDay(days.toLong)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
      case l @ Literal(us: Long, TimestampType) =>
        atMillis(l.toString, Math.floorDiv(us, 1000L))
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
        val txt = s.toString.trim
        atMillis(txt, utcMillis(txt))
      case other => throw new IllegalArgumentException(
        "time travel takes an integer version or a timestamp " +
          s"(string/DATE/TIMESTAMP) literal, got $other")
    }
  }

  /** Parse a UTC timestamp text ('yyyy-MM-dd' or 'yyyy-MM-dd HH:mm:ss')
    * to epoch millis — the one rule every time-travel text spelling
    * resolves through. */
  private[graft] def utcMillis(txt: String): Long =
    try {
      if (txt.length == 10)
        java.time.LocalDate.parse(txt)
          .atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli
      else java.time.LocalDateTime.parse(txt.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch { case ex: java.time.format.DateTimeParseException =>
      throw new IllegalArgumentException(
        s"unparseable UTC timestamp '$txt'", ex)
    }
}

/** Leaf standing for "the committed content of the versioned table at
  * `root`" — resolved into a concrete (possibly pruned) parquet scan by
  * [[PruneVersionedScan]]. The second (non-product) parameter list pins
  * the already-resolved manifest and the owning session, so plan equality
  * and tree rendering stay keyed on (root, version, schema) while the
  * rule needs no I/O and no SparkSession.active. Statistics are exact,
  * from the pinned manifest's per-dir counts. */
case class VersionedRelation(root: String, asOfVersion: Option[Int],
                             tableSchema: StructType,
                             output: Seq[Attribute])(
    @transient private[graft] val manifest: VersionedTable.Manifest,
    @transient private[graft] val session: SparkSession)
    extends LeafNode with MultiInstanceRelation {
  override protected final def otherCopyArgs: Seq[AnyRef] =
    manifest :: session :: Nil
  // exact statistics from the pinned manifest, zero I/O: data bytes from
  // the per-dir byte index and the exact row count (DV cardinalities
  // subtracted) — mid-optimization consumers (join reorder, runtime
  // bloom-filter injection) see the truth
  override def computeStats(): Statistics = Statistics(
    sizeInBytes = BigInt(VersionedTable.manifestSizeBytes(manifest)),
    rowCount = Some(BigInt(VersionedTable.manifestCount(manifest))))
  // self-joins of one table() frame: the analyzer's DeduplicateRelations
  // re-instances leaves through this, like every built-in relation
  override def newInstance(): VersionedRelation =
    VersionedRelation(root, asOfVersion, tableSchema,
      output.map(_.newInstance()))(manifest, session)
}

/** Filter(cond, VersionedRelation) → Filter(cond, prunedScan); a bare
  * relation resolves to the full read. Runs inside the operator-
  * optimization batch, i.e. AFTER predicate pushdown has moved filters
  * next to the leaf. */
object PruneVersionedScan extends Rule[LogicalPlan] with PredicateHelper {

  /** FileSystem for a relation's root via its PINNED session — per-dir
    * index blocks load lazily (cached on the pinned manifest), so a
    * fold's slice reads amortize across recompilations; no
    * SparkSession.active involved. */
  private def relFs(rel: VersionedRelation): org.apache.hadoop.fs.FileSystem =
    VersionedTable.fsFor(rel.session, rel.root)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // Metadata-only aggregates: an ungrouped, unfiltered aggregate of
    // count(<non-null literal>) / min(col) / max(col) over the relation
    // folds to a LocalRelation row computed from the pinned manifest —
    // zero files listed, zero tasks run, at any table size (the
    // Delta/Iceberg snapshot-stats rewrite). Counts need every live dir's
    // #dirrows; min/max need PROVABLE stat coverage (every file of every
    // dir carries a current-type stat for the column — see
    // VersionedTable.manifestMinMax). Any non-foldable aggregate — a
    // Filter underneath (row set changes), count(nullable col), a
    // distinct, a column without coverage — leaves the whole plan on the
    // scan path; a Project in between never changes cardinality or
    // column content, so it is looked through.
    case agg: Aggregate =>
      tryFold(agg).getOrElse(agg) // unchanged => children still visited
    case f @ Filter(cond, rel: VersionedRelation) =>
      f.copy(child = substitute(rel, Some(cond)))
    case rel: VersionedRelation =>
      substitute(rel, None)
  }

  private def tryFold(agg: Aggregate): Option[LogicalPlan] = {
    val (rel, filt) = agg.child match {
      case r: VersionedRelation => (r, None)
      case Project(_, r: VersionedRelation) => (r, None)
      case Filter(c, r: VersionedRelation) => (r, Some(c))
      case Project(_, Filter(c, r: VersionedRelation)) => (r, Some(c))
      case _ => return None
    }
    if (agg.aggregateExpressions.isEmpty) return None
    // every attribute a fold consults must BE the relation's own output
    // attribute (exprId identity, not name): a Project in between may
    // compute or re-alias a column under a relation column's NAME, and a
    // name-keyed fold would silently answer from the wrong column's
    // stats (.select((col("v")*2).as("v")).agg(max("v")))
    def own(a: AttributeReference): Boolean = rel.outputSet.contains(a)
    filt.foreach { cond => return tryFoldFiltered(agg, rel, cond) }
    if (agg.groupingExpressions.nonEmpty) return tryFoldGrouped(agg, rel)
    val m = rel.manifest
    // each output expression must fold to an INTERNAL value
    val folded = agg.aggregateExpressions.map { ne =>
      val e = ne match { case Alias(child, _) => child; case other => other }
      e match {
        case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _)
            if v != null =>
          Some(VersionedTable.manifestCount(m): Any)
        // count(col) = total - recorded nulls, same coverage proof as
        // min/max (for NON-nullable columns Catalyst already rewrote
        // count(c) to count(1) before this rule sees it)
        case AggregateExpression(Count(Seq(a: AttributeReference)), _, false,
            None, _) if own(a) =>
          VersionedTable.manifestNonNullCount(relFs(rel), rel.root, m,
            a.name).map(n => n: Any)
        case AggregateExpression(Min(a: AttributeReference), _, false,
            None, _) if own(a) =>
          VersionedTable.manifestMinMax(relFs(rel), rel.root, m, a.name)
            .map(mm => CatalystTypeConverters.convertToCatalyst(mm._1))
        case AggregateExpression(Max(a: AttributeReference), _, false,
            None, _) if own(a) =>
          VersionedTable.manifestMinMax(relFs(rel), rel.root, m, a.name)
            .map(mm => CatalystTypeConverters.convertToCatalyst(mm._2))
        case Literal(v, _) => Some(v) // already internal
        case _ => None
      }
    }
    if (folded.exists(_.isEmpty)) None
    else Some(LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(folded.map(_.get)))))
  }

  /** PARTITION-FILTERED COUNT fold: `count(*) WHERE <predicate over
    * partition columns only>` — with or without GROUP BY on partition
    * columns — folds to manifest arithmetic by evaluating the ORIGINAL
    * predicate expression against each live dir's exactly-parsed
    * partition values (the dir name IS the value for every row in it).
    * Because the actual Catalyst expression is bound and evaluated —
    * not re-derived facts — ANY deterministic, subquery-free shape works
    * (`part = 'x'`, `part IN (...)`, `year(date) = 2024`,
    * `part LIKE 'a%' OR part IS NULL`, ...) and the fold is EXACT, not
    * a sound superset: a dir counts iff the predicate is definitely
    * TRUE on its values, exactly the rows a scan would keep. Any parse
    * failure, missing dir count, eval error, or non-count aggregate
    * bails to the scan path — correctness never depends on the fold. */
  private def tryFoldFiltered(agg: Aggregate, rel: VersionedRelation,
                              cond: Expression): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet,
      BindReferences, PlanExpression}
    val m = rel.manifest
    if (!cond.deterministic) return None
    if (cond.exists(_.isInstanceOf[PlanExpression[_]])) return None
    val partAttrs: Seq[Attribute] = m.partCols.map(c =>
      rel.output.find(_.name == c).getOrElse(return None))
    if (!cond.references.subsetOf(AttributeSet(partAttrs))) return None
    val dirs = VersionedTable.manifestDirLiveRows(m,
      rel.session.sessionState.conf.sessionLocalTimeZone)
      .getOrElse(return None)
    val bound = BindReferences.bindReference(cond, partAttrs,
      allowFailures = true)
    if (bound.exists(!_.resolved)) return None
    val surviving: Seq[(String, Seq[Any], Long)] =
      try dirs.filter { case (_, vals, _) =>
        bound.eval(InternalRow.fromSeq(
          vals.map(CatalystTypeConverters.convertToCatalyst))) == true
      } catch { case scala.util.control.NonFatal(_) => return None }
    // exprId identity against the relation's output — see tryFold's note
    val groupCols = agg.groupingExpressions.map {
      case a: AttributeReference if rel.outputSet.contains(a) => a.name
      case _ => return None
    }
    if (!groupCols.forall(m.partCols.contains)) return None
    // per group: its surviving dirs (rel keys power the per-dir-subset
    // MIN/MAX and COUNT(col) folds), its partition values, its row sum
    val byGroup: Seq[(Seq[Any], Seq[(String, Seq[Any], Long)])] =
      if (groupCols.isEmpty) Seq((Nil, surviving))
      else surviving
        .groupBy { case (_, vals, _) =>
          groupCols.map(c => vals(m.partCols.indexOf(c))) }
        .toSeq.map { case (k, xs) => (k, xs) }
    // ungrouped aggregates over zero surviving dirs still yield one row
    val rows = byGroup.map { case (vals, ds) =>
      val dirSet = ds.map(_._1).toSet
      val n = ds.map(_._3).sum
      InternalRow.fromSeq(agg.aggregateExpressions.map { ne =>
        val e = ne match { case Alias(c, _) => c; case o => o }
        e match {
          case a: AttributeReference if rel.outputSet.contains(a) &&
              groupCols.contains(a.name) =>
            CatalystTypeConverters.convertToCatalyst(
              vals(groupCols.indexOf(a.name)))
          case AggregateExpression(Count(Seq(Literal(v, _))), _, false,
              None, _) if v != null => n
          // count(partition col): non-null only in non-null-value dirs
          case AggregateExpression(Count(Seq(a: AttributeReference)), _,
              false, None, _) if rel.outputSet.contains(a) &&
              m.partCols.contains(a.name) =>
            ds.collect { case (_, vs, rows_)
                if vs(m.partCols.indexOf(a.name)) != null => rows_ }.sum
          // count(data col) / min / max over the SURVIVING dirs only,
          // same coverage proofs as the unfiltered folds
          case AggregateExpression(Count(Seq(a: AttributeReference)), _,
              false, None, _) if rel.outputSet.contains(a) =>
            VersionedTable.manifestNonNullCountDirs(relFs(rel), rel.root, m,
              a.name, dirSet)
              .getOrElse(return None)
          case AggregateExpression(Min(a: AttributeReference), _, false,
              None, _) if rel.outputSet.contains(a) =>
            CatalystTypeConverters.convertToCatalyst(
              VersionedTable.manifestMinMaxDirs(relFs(rel), rel.root, m,
                a.name, dirSet)
                .getOrElse(return None)._1)
          case AggregateExpression(Max(a: AttributeReference), _, false,
              None, _) if rel.outputSet.contains(a) =>
            CatalystTypeConverters.convertToCatalyst(
              VersionedTable.manifestMinMaxDirs(relFs(rel), rel.root, m,
                a.name, dirSet)
                .getOrElse(return None)._2)
          case Literal(v, _) => v
          case _ => return None
        }
      })
    }
    Some(LocalRelation(agg.output, rows))
  }

  /** GROUP BY partition-column COUNT(*) fold: the dir name IS the value
    * for every row of a dir, so per-value counts are exact sums of the
    * manifest's dir row counts — one LocalRelation row per live
    * partition value (the Delta metadata-only-query idea, extended to
    * grouped counts). Bails (scan path) unless every grouping expression
    * is a partition-column attribute, every output is a grouping
    * attribute / count(non-null literal) / literal, every dir has a row
    * count, and every partition value parses exactly. */
  private def tryFoldGrouped(agg: Aggregate,
                             rel: VersionedRelation): Option[LogicalPlan] = {
    // exprId identity against the relation's output — see tryFold's note
    val groupCols = agg.groupingExpressions.map {
      case a: AttributeReference if rel.outputSet.contains(a) => a.name
      case _ => return None
    }
    val groups =
      VersionedTable.manifestGroupCounts(rel.manifest, groupCols,
        rel.session.sessionState.conf.sessionLocalTimeZone)
        .getOrElse(return None)
    val mkRow: Seq[(Seq[Any], Long)] => Option[Seq[InternalRow]] = gs =>
      Some(gs.map { case (vals, n) =>
        InternalRow.fromSeq(agg.aggregateExpressions.map { ne =>
          val e = ne match { case Alias(c, _) => c; case o => o }
          e match {
            case a: AttributeReference if rel.outputSet.contains(a) &&
                groupCols.contains(a.name) =>
              CatalystTypeConverters.convertToCatalyst(
                vals(groupCols.indexOf(a.name)))
            case AggregateExpression(Count(Seq(Literal(v, _))), _, false,
                None, _) if v != null => n
            case Literal(v, _) => v
            case _ => return None
          }
        })
      })
    mkRow(groups).map(rows => LocalRelation(agg.output, rows))
  }

  /** Per-column facts accumulated from the conjuncts; first-seen of each
    * kind wins (any single sound fact suffices for pruning). */
  private case class Facets(lo: Option[Any] = None, hi: Option[Any] = None,
                            eq: Option[Any] = None,
                            in: Option[Seq[Any]] = None,
                            prefix: Option[String] = None,
                            notNull: Boolean = false,
                            isNull: Boolean = false,
                            notEq: Seq[Any] = Nil)

  /** Extract sound per-column constraints from the conjuncts: closed /
    * strict bounds (strict widened to inclusive), equalities, IN-lists
    * (both the literal-list and the optimized InSet form, nulls dropped —
    * they match no row), string prefixes from LIKE 'abc%', and
    * IS [NOT] NULL facts. Anything else contributes nothing — the Filter
    * on top keeps row-level semantics regardless. */
  /** [[constraints]] for callers outside the rule — predicate-expression
    * DML reuses the exact extraction the optimizer scans get. */
  private[graft] def extractConstraints(cond: Expression)
      : Seq[VersionedTable.ColConstraint] = constraints(cond)

  private def constraints(cond: Expression)
      : Seq[VersionedTable.ColConstraint] = {
    def ext(dtJson: Literal): Any =
      CatalystTypeConverters.createToScalaConverter(dtJson.dataType)(
        dtJson.value)
    val perCol = scala.collection.mutable.Map.empty[String, Facets]
    def upd(name: String)(f: Facets => Facets): Unit =
      perCol(name) = f(perCol.getOrElse(name, Facets()))
    splitConjunctivePredicates(cond).foreach {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        upd(a.name)(x => x.copy(lo = x.lo.orElse(Some(ext(l)))))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        upd(a.name)(x => x.copy(lo = x.lo.orElse(Some(ext(l)))))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        upd(a.name)(x => x.copy(hi = x.hi.orElse(Some(ext(l)))))
      case LessThan(a: AttributeReference, l: Literal) =>
        upd(a.name)(x => x.copy(hi = x.hi.orElse(Some(ext(l)))))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        upd(a.name)(x => x.copy(hi = x.hi.orElse(Some(ext(l)))))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        upd(a.name)(x => x.copy(hi = x.hi.orElse(Some(ext(l)))))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        upd(a.name)(x => x.copy(lo = x.lo.orElse(Some(ext(l)))))
      case LessThan(l: Literal, a: AttributeReference) =>
        upd(a.name)(x => x.copy(lo = x.lo.orElse(Some(ext(l)))))
      case EqualTo(a: AttributeReference, l: Literal) =>
        upd(a.name)(x => x.copy(eq = x.eq.orElse(Some(ext(l)))))
      case EqualTo(l: Literal, a: AttributeReference) =>
        upd(a.name)(x => x.copy(eq = x.eq.orElse(Some(ext(l)))))
      // <=> with a non-null literal is plain equality (plus not-null)
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
        upd(a.name)(x => x.copy(eq = x.eq.orElse(Some(ext(l)))))
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
        upd(a.name)(x => x.copy(eq = x.eq.orElse(Some(ext(l)))))
      // <=> NULL and IS NULL: only files recording at least one null match
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value == null =>
        upd(a.name)(_.copy(isNull = true))
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value == null =>
        upd(a.name)(_.copy(isNull = true))
      case IsNull(a: AttributeReference) =>
        upd(a.name)(_.copy(isNull = true))
      case IsNotNull(a: AttributeReference) =>
        upd(a.name)(_.copy(notNull = true))
      case In(a: AttributeReference, list)
          if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        val vs = list.collect {
          case l: Literal if l.value != null => ext(l) }
        upd(a.name)(x => x.copy(in = x.in.orElse(Some(vs))))
      case InSet(a: AttributeReference, hset) =>
        val conv = CatalystTypeConverters.createToScalaConverter(a.dataType)
        val vs = hset.toSeq.filter(_ != null).map(conv)
        upd(a.name)(x => x.copy(in = x.in.orElse(Some(vs))))
      case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
        upd(a.name)(x => x.copy(prefix = x.prefix.orElse(Some(p.toString))))
      // a =!= v (Not over equality, non-null literal): the column provably
      // differs from v on every matching row — NULL makes the conjunct
      // NULL, a non-match, so this is a non-null facet too. Exclusions
      // ACCUMULATE (each conjunct holds independently), unlike the
      // first-seen facets above. A NULL literal (`a != NULL`, never true)
      // contributes nothing — conservative.
      case Not(EqualTo(a: AttributeReference, l: Literal)) if l.value != null =>
        upd(a.name)(x => x.copy(notEq = x.notEq :+ ext(l)))
      case Not(EqualTo(l: Literal, a: AttributeReference)) if l.value != null =>
        upd(a.name)(x => x.copy(notEq = x.notEq :+ ext(l)))
      // NOT IN over all-literal, no-NULL lists = a conjunction of =!=
      // facts (one NULL in the list makes NOT IN never true: skip —
      // pruning to nothing is the optimizer's job, not the index's)
      case Not(In(a: AttributeReference, list)) if list.nonEmpty &&
          list.forall { case l: Literal => l.value != null; case _ => false } =>
        val vs = list.map { case l: Literal => ext(l) }
        upd(a.name)(x => x.copy(notEq = x.notEq ++ vs))
      case Not(InSet(a: AttributeReference, hset)) if !hset.contains(null) =>
        val conv = CatalystTypeConverters.createToScalaConverter(a.dataType)
        upd(a.name)(x => x.copy(notEq = x.notEq ++ hset.toSeq.map(conv)))
      case _ => ()
    }
    perCol.toSeq.collect {
      case (name, f) if f.lo.isDefined || f.hi.isDefined || f.eq.isDefined ||
          f.in.isDefined || f.prefix.isDefined || f.notNull || f.isNull ||
          f.notEq.nonEmpty =>
        VersionedTable.ColConstraint(name, f.lo, f.hi, f.eq, f.in, f.prefix,
          f.notNull, f.isNull, notEq = f.notEq)
    }
  }

  /** Build the concrete scan (no I/O beyond listing the selected dirs
    * and files for the one relation VersionedTable.scanLeaves builds —
    * the manifest was pinned at relation-build time) and re-bind it to
    * the relation's original attribute ids so everything referencing the
    * leaf keeps resolving. */
  private def substitute(rel: VersionedRelation,
                         cond: Option[Expression]): LogicalPlan = {
    val spark = rel.session
    val df = cond.map(constraints).filter(_.nonEmpty) match {
      case Some(cs) =>
        VersionedTable.readConstrainedM(spark, rel.root, rel.manifest, cs)
      case None =>
        VersionedTable.readM(spark, rel.root, rel.manifest)
    }
    // the substituted subtree enters the plan MID-optimization, after
    // the finish-analysis rules have run — a deletion-vector anti-join's
    // broadcast() hint must be folded into its Join node (else the
    // planner rejects the leftover ResolvedHint as an internal error)
    // and RuntimeReplaceable expressions (url_decode in the DV file key)
    // must be rewritten to their runtime forms here
    val newPlan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
      org.apache.spark.sql.catalyst.optimizer
        .EliminateResolvedHint(PlanBridge.analyzed(df)))
    val byName = newPlan.output.map(a => a.name -> a).toMap
    val projection: Seq[NamedExpression] = rel.output.map { old =>
      val bound = byName.getOrElse(old.name, throw new IllegalStateException(
        s"column ${old.name} of the pinned version is missing from the " +
          s"resolved scan of ${rel.root} — manifest drift under a pinned " +
          "version should be impossible; was the table vacuumed?"))
      Alias(bound, old.name)(exprId = old.exprId)
    }
    Project(projection, newPlan)
  }
}
