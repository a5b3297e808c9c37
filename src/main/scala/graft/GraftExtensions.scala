package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotProduct, FreqItemsAgg, MinHashAgg, NGramHashes,
  RegexpCountExpr, RewriteRegexpCount, SimHashAgg}

/**
 * SQL-surface registration of graft's native expressions, usable two ways:
 *
 *  - cluster-wide, at session build time:
 *      spark.sql.extensions=graft.GraftExtensions
 *  - on an existing session (tests, notebooks):
 *      GraftExtensions.register(spark)
 *
 * After either, `SELECT regexp_count_fast(text, '\\w+')` and
 * `SELECT ngram_hashes(tokens, 3)` work from plain SQL.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => RewriteRegexpCount)
    ext.injectOptimizerRule(_ => graft.plans.PruneVersionedScan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL DML/maintenance over the versioned lake (DELETE/UPDATE/MERGE on
    // graft.`root`; OPTIMIZE/VACUUM/RESTORE/DESCRIBE HISTORY). Parser
    // injection only exists at session BUILD time — register(spark)
    // cannot retrofit it (sessionState pins its parser).
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    // pinned to IntegerType: DATE literals are Int-backed (epoch days)
    // and would otherwise silently pass as a version number
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
      v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  /** A table-valued argument that is a QUERY BATCH: a session temp view
    * shadows (Spark's resolution order), then a registered graft name
    * or a path. */
  private def frameOf(e: Expression, what: String)
      : org.apache.spark.sql.DataFrame = {
    val ref = strLit(e, what)
    val spark = SparkSession.active
    if (ref.contains("/"))
      graft.plans.VersionedScan.table(spark, ref)
    else if (spark.sessionState.catalog.getTempView(ref).isDefined)
      spark.table(ref)
    else graft.plans.GraftCatalog.resolve(spark, ref) match {
      case Some(root) => graft.plans.VersionedScan.table(spark, root)
      case None => throw new IllegalArgumentException(
        s"$what: '$ref' is not a temp view, registered graft table, " +
          "or path")
    }
  }

  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("regexp_count_fast"),
      new ExpressionInfo(classOf[RegexpCountExpr].getName, "regexp_count_fast"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "regexp_count_fast(subject, pattern) takes 2 arguments")
        RegexpCountExpr(children.head, children(1))
      }),
    (FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NGramHashes].getName, "ngram_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "ngram_hashes(tokens, n) takes 2 arguments")
        NGramHashes(children.head, intLit(children(1), "ngram_hashes n"))
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "vec_dot(a, b) takes 2 array<float|double> arguments")
        DotProduct(children.head, children(1))
      }),
    // one-pass sketch AGGREGATES: the analyzer wraps an AggregateFunction
    // returned from a registry builder in an AggregateExpression, so these
    // work in plain `GROUP BY` SQL (and in streaming windowed aggs)
    (FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "minhash_sketch(h64, numPerm, seed) takes 3 arguments")
        MinHashAgg(children.head, intLit(children(1), "minhash numPerm"),
          intLit(children(2), "minhash seed").toLong)
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(h64) takes 1 argument")
        SimHashAgg(children.head)
      }),
    (FunctionIdentifier("freq_items_mg"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "freq_items_mg"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "freq_items_mg(item, k) takes 2 arguments")
        FreqItemsAgg(children.head, intLit(children(1), "freq_items k"))
      }))

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** A table function's root argument: a PATH (contains '/') is taken
    * verbatim; anything else resolves as a REGISTERED catalog name
    * (with an optional @branch suffix), so `graft_table('metrics')`
    * and `graft_table('/lake/metrics')` are the same surface. An
    * unregistered name is loud — silently treating it as a relative
    * path would read nothing. */
  private def rootOf(e: Expression, what: String): String = {
    val ref = strLit(e, what)
    if (ref.contains("/")) ref
    else graft.plans.GraftCatalog.resolve(SparkSession.active, ref)
      .getOrElse(throw new IllegalArgumentException(
        s"$what: '$ref' is not a registered graft table name or a path"))
  }

  /** SQL table functions: `SELECT ... FROM graft_table('/path' [, v])`
    * resolves to the pinned [[graft.plans.VersionedRelation]] — plain SQL
    * gets the versioned table with snapshot semantics, optional time
    * travel, automatic file pruning, and metadata-aggregate folding, no
    * DataFrame code required. The builder runs at ANALYSIS time on the
    * query's own thread, where SparkSession.active IS the querying
    * session (unlike optimizer-rule execution, which may be driven from
    * other threads — the relation still pins manifest + session at build
    * so nothing downstream consults active again). */
  private[graft] val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_table"),
      new ExpressionInfo(graft.plans.VersionedScan.getClass.getName,
        "graft_table"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "graft_table(root [, version | 'timestamp']) takes 1-2 arguments")
        val root = rootOf(children.head, "graft_table root")
        val spark = SparkSession.active
        // second arg: INT literal = VERSION AS OF; STRING/DATE/TIMESTAMP
        // literal = TIMESTAMP AS OF against the commit markers' times —
        // the same resolution named FOR VERSION|TIMESTAMP AS OF uses
        val asOf: Option[Int] = children.lift(1).map(
          graft.plans.VersionedScan.literalAsOf(spark, root, _))
        graft.plans.VersionedScan.plan(spark, root, asOf)
      }),
    (FunctionIdentifier("graft_partitions"),
      new ExpressionInfo(graft.ops.VersionedTable.getClass.getName,
        "graft_partitions"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "graft_partitions(root [, version]) takes 1-2 arguments")
        val root = rootOf(children.head, "graft_partitions root")
        val asOf = children.lift(1).map(intLit(_, "graft_partitions version"))
        // manifest-only partition metadata as a queryable relation —
        // the Iceberg metadata-table idea from pure SQL
        graft.ops.VersionedTable
          .partitionsMeta(SparkSession.active, root, asOf)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.ops.VersionedTable.getClass.getName,
        "graft_changes"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_changes(root, fromVersion, toVersion) takes 3 arguments")
        val root = rootOf(children.head, "graft_changes root")
        val from = intLit(children(1), "graft_changes fromVersion")
        val to = intLit(children(2), "graft_changes toVersion")
        // version diff keyed by the table's RECORDED merge keys — the
        // Delta table_changes() idea from pure SQL, O(|changed dirs|)
        graft.ops.VersionedTable
          .changeFeed(SparkSession.active, root, from, to)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_changes_cdf"),
      new ExpressionInfo(graft.ops.VersionedTable.getClass.getName,
        "graft_changes_cdf"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_changes_cdf(root, fromVersion, toVersion) takes 3 arguments")
        val root = rootOf(children.head, "graft_changes_cdf root")
        val from = intLit(children(1), "graft_changes_cdf fromVersion")
        val to = intLit(children(2), "graft_changes_cdf toVersion")
        graft.ops.VersionedTable
          .changeFeedCdf(SparkSession.active, root, from, to)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_expect_log"),
      new ExpressionInfo(graft.ops.Expectations.getClass.getName,
        "graft_expect_log"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_expect_log(root) takes 1 argument")
        val root = rootOf(children.head, "graft_expect_log root")
        // the persisted expectation event log (#expectlog manifest
        // lines): per-commit violation counts — the DLT event-log
        // shape, manifest metadata only
        graft.ops.Expectations.log(SparkSession.active, root)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_txn_log"),
      new ExpressionInfo(graft.ops.MultiSync.getClass.getName,
        "graft_txn_log"),
      (children: Seq[Expression]) => {
        require(children.length <= 1,
          "graft_txn_log([markerDir]) takes 0-1 arguments")
        val spark = SparkSession.active
        // pending multi-table transaction groups (intent/decision
        // markers + recorded stages): no argument = the session
        // catalog's _txn dir (every SQL transaction); an explicit dir
        // serves API callers' own marker directories
        val dir = children.headOption
          .map(rootOf(_, "graft_txn_log markerDir"))
          .getOrElse(graft.plans.GraftTxn.txnDir(spark))
        graft.ops.MultiSync.txnLog(spark, dir)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_files"),
      new ExpressionInfo(graft.ops.VersionedTable.getClass.getName,
        "graft_files"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "graft_files(root [, version]) takes 1-2 arguments")
        val root = rootOf(children.head, "graft_files root")
        val asOf = children.lift(1).map(intLit(_, "graft_files version"))
        // per-file index metadata (stats/blooms/DVs) as a queryable
        // relation — the Iceberg `files` metadata table from pure SQL
        graft.ops.VersionedTable
          .filesMeta(SparkSession.active, root, asOf)
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_dedup_pairs"),
      new ExpressionInfo(graft.dedup.DedupIndex.getClass.getName,
        "graft_dedup_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_dedup_pairs(index, queryTable, minJaccard) takes 3 " +
            "arguments")
        val idx = rootOf(children.head, "graft_dedup_pairs index")
        val q = frameOf(children(1), "graft_dedup_pairs queryTable")
        // exact-verified near-dup pairs of the query batch against the
        // CDC-maintained LSH index, from pure SQL — bucket-bounded
        // candidates, never an all-pairs comparison
        graft.dedup.DedupIndex.verifiedPairs(SparkSession.active, idx,
            q, doubleLit(children(2), "graft_dedup_pairs minJaccard"))
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_ann_topk"),
      new ExpressionInfo(graft.sim.AnnIndex.getClass.getName,
        "graft_ann_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 4,
          "graft_ann_topk(index, queryTable, k [, nProbe]) takes 3-4 " +
            "arguments")
        val spark = SparkSession.active
        val idx = rootOf(children.head, "graft_ann_topk index")
        val q = frameOf(children(1), "graft_ann_topk queryTable")
        val spec = graft.sim.AnnIndex.readSpec(spark, idx)
        // queries carry the SOURCE's column names (id, vec) — the
        // natural shape when the query batch is itself a graft table
        // or a temp view cut from one. The spec read here passes
        // through (one sidecar read per invocation, not two).
        graft.sim.AnnIndex.topK(spark, idx, spec, q, spec.idCol,
            spec.vecCol, k = intLit(children(2), "graft_ann_topk k"),
            nProbe = children.lift(3)
              .map(intLit(_, "graft_ann_topk nProbe"))
              .getOrElse(4))
          .queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_view"),
      new ExpressionInfo(graft.ops.MatView.getClass.getName, "graft_view"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_view(viewRoot) takes 1 argument")
        val root = rootOf(children.head, "graft_view root")
        val spark = SparkSession.active
        // the served shape of a materialized aggregate (group cols +
        // measure aliases, tombstones/internals hidden), from pure SQL;
        // the frame's own analysis runs here, at the outer query's
        // ANALYSIS time, so the resolved subtree just slots in.
        graft.ops.MatView.read(spark, root).queryExecution.analyzed
      }),
    (FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(graft.ops.MultiSync.getClass.getName,
        "graft_snapshot"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty,
          "graft_snapshot(table, ...) takes 1+ arguments")
        val spark = SparkSession.active
        val roots = children.zipWithIndex.map { case (c, i) =>
          rootOf(c, s"graft_snapshot table ${i + 1}") }
        // a cross-table VERSION VECTOR captured in one stability-
        // re-read pass: feed each (root, version) row into
        // graft_table(root, version) / VERSION AS OF to read every
        // table at the SAME consistent instant
        val snap = graft.ops.MultiSync.snapshot(spark, roots)
        import spark.implicits._
        snap.versions.toDF("root", "version").queryExecution.analyzed
      }))

  /** Serializes every check-and-append on
    * `spark.experimental.extraOptimizations` (here and in
    * VersionedScan.table): the field is a plain var, so two threads
    * registering concurrently could lose one rule — and a session missing
    * PruneVersionedScan leaves a VersionedRelation unresolved at planning. */
  private[graft] val registrationLock = new Object

  /** Idempotent, thread-safe append of optimizer rules to a session's
    * experimental list. */
  private[graft] def addOptimizations(
      spark: SparkSession,
      rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]): Unit =
    registrationLock.synchronized {
      rules.foreach { r =>
        if (!spark.experimental.extraOptimizations.contains(r))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ r
      }
    }

  /** Register on an already-running session (functions + the
    * size(regexp_extract_all) -> regexp_count rewrite). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    tableFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(ident, info, builder)
    }
    addOptimizations(spark,
      Seq(RewriteRegexpCount, graft.plans.PruneVersionedScan))
  }
}
