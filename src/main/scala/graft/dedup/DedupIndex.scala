package graft.dedup

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/**
 * A PERSISTED MinHash-LSH near-duplicate index over a versioned
 * documents table, maintained INCREMENTALLY from its change feed — the
 * piece that makes near-dedup continuous at 100 TB:
 *
 *  - The corpus is minhashed ONCE (the initial build); after that,
 *    every refresh reads only the CHANGE FEED — inserted/updated docs
 *    re-band, removed docs' bucket rows are erased through the
 *    bloom-probed key-list delete — so keeping the index current costs
 *    O(|changed docs|) however large the corpus. Batch dedup pipelines
 *    ([[FuzzyDedup.jaccardPairsAgainst]]) re-shingle the corpus side
 *    every run; a training-data pipeline ingesting documents
 *    continuously cannot.
 *  - The index IS a versioned table: (band_idx, band_hash, doc id),
 *    partitioned by (band, EPOCH) with stats+bloom on the id column
 *    (the erase path's probe), inheriting time travel, pruned reads,
 *    and the exactly-once txn watermark that makes a crashed refresh
 *    replay idempotently (the MatView discipline).
 *  - LSM-style appends: the epoch partition column is the SOURCE
 *    version a refresh synced to, so every incremental refresh lands
 *    its band rows in FRESH (band, epoch) dirs — the manifest maps
 *    each dir to one generation, so writing into existing dirs would
 *    rewrite the whole index every refresh (band rows hit every band).
 *    Reads scan all epochs (an id lives in exactly one — the erase
 *    discipline); past `spark.graft.dedupindex.maxEpochs` (default
 *    128) a refresh appends one CONSOLIDATION commit folding every
 *    epoch into the current one — index-sized, no re-shingling,
 *    amortized 1/maxEpochs.
 *  - [[candidatePairs]] joins a query batch's band rows against the
 *    index on (band_idx, band_hash) — a shuffle equi-join on bucket
 *    keys, never an all-pairs comparison; [[verifiedPairs]] then
 *    exact-Jaccard-verifies ONLY the candidates, reading corpus texts
 *    for just the matched ids.
 *
 * A refresh whose change set exceeds `spark.graft.dedupindex.idCap`
 * (default 100k — the erase path collects changed ids to the driver)
 * falls back to ONE full rebuild commit, the same threshold discipline
 * as the matview's mass-removal fallback.
 *
 * Consistency note: the incremental refresh's erase and re-band are
 * TWO commits — a reader between them sees the changed docs absent
 * (transiently stale candidates, never wrong rows), and a crash
 * between them replays idempotently (the erase of already-gone rows is
 * a no-op, the re-band rides the txn watermark).
 */
object DedupIndex {

  case class Spec(srcRoot: String, idCol: String, textCol: String,
                  shingleN: Int, numPerm: Int, bands: Int, seed: Long)

  private val StreamPrefix = "dedupindex:"
  private[graft] def specPath(indexRoot: String) =
    new Path(indexRoot, "_dedupindex")
  /** The txn stream id the index's sync cursor rides — for DESCRIBE. */
  private[graft] def streamId(srcRoot: String): String =
    StreamPrefix + srcRoot

  private def idCap(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dedupindex.idCap")
      .map(_.toInt).getOrElse(100000)

  private def maxEpochs(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dedupindex.maxEpochs")
      .map(_.toInt).getOrElse(128)

  /** Docs the LAST [[refresh]] re-banded (feed-sized on the incremental
    * path; the full doc count after a rebuild/initial build) and whether
    * it took the full-rebuild fallback — per-thread observability, the
    * MatView convention. */
  private val lastDocs = new ThreadLocal[java.lang.Long] {
    override def initialValue: java.lang.Long = -1L
  }
  private val lastRebuild = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }
  private[graft] def lastRefreshDocs: Long = lastDocs.get
  private[graft] def lastRefreshRebuild: Boolean = lastRebuild.get

  /** Define the index and run the initial full build (the ONLY time the
    * whole corpus is shingled). Returns the index table version. */
  def create(spark: SparkSession, indexRoot: String, srcRoot: String,
             idCol: String, textCol: String, shingleN: Int = 3,
             numPerm: Int = 64, bands: Int = 32, seed: Long = 42L): Int = {
    require(numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    // the index table owns these column names; an idCol colliding with
    // one would be silently overwritten by the band/epoch stamps
    // (commitRows) — every doc would "match" every other
    Seq("band_idx", "band_hash", "epoch").foreach(r =>
      require(!idCol.equalsIgnoreCase(r),
        s"id column '$idCol' collides with the index's reserved " +
          s"'$r' column — rename it in the source"))
    val spec = Spec(srcRoot, idCol, textCol, shingleN, numPerm, bands, seed)
    graft.ops.SpecFile.writeExclusive(spark, specPath(indexRoot),
      render(spec))
    try refresh(spark, indexRoot)
    catch { case t: Throwable =>
      try graft.ops.SpecFile.fs(spark, specPath(indexRoot))
        .delete(specPath(indexRoot), false)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
  }

  /** The refresh diffs the change feed keyed on `idCol` ALONE; if the
    * source's recorded merge keys are wider (say doc_id+lang),
    * duplicate ids across the wider key would cross-join the feed and
    * silently inflate it with spurious update/delete rows. When the
    * recorded keys are exactly (idCol) uniqueness holds by table
    * construction and this is free; otherwise prove uniqueness over
    * `rows` (the whole corpus on build/rebuild, the changed ids'
    * current rows on the incremental path) and refuse loudly. */
  private def requireUniqueIds(spark: SparkSession, spec: Spec,
                               rows: => DataFrame, where: String): Unit = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val keys = VersionedTable.resolveManifest(spark, spec.srcRoot, None)
      .keys
    if (keys.map(lc) != Seq(lc(spec.idCol))) {
      val dup = VersionedTable.smallQuery(rows.groupBy(col(spec.idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .limit(1)).collect()
      require(dup.isEmpty,
        s"dedup index on ${spec.srcRoot} keys its change feed on " +
          s"'${spec.idCol}', but the source's merge keys are " +
          s"(${keys.mkString(", ")}) and id '${dup.head.get(0)}' is " +
          s"duplicated $where — deduplicate the source on " +
          s"'${spec.idCol}' or key the table on it")
    }
  }

  /** Band-bucket rows of `docs` (id + text): one row per (band_idx,
    * band_hash, id). */
  private def bandRows(docs: DataFrame, spec: Spec): DataFrame =
    FuzzyDedup.lshBuckets(
      FuzzyDedup.minhashSignatures(docs, spec.idCol, spec.textCol,
        spec.shingleN, spec.numPerm, spec.seed),
      spec.idCol, spec.bands)
      .select(col("band_idx"), col("band_hash"), col(spec.idCol))

  /** Commit band rows stamped with their sync EPOCH (the source version
    * they re-banded from). Epoch rides the partition columns AND the
    * merge keys, so an incremental refresh's rows land in brand-new
    * (band_idx, epoch) dirs — an append, never a rewrite of the
    * standing index — and a replayed commit of the same epoch replaces
    * its own rows idempotently. `txn = None` on consolidation commits
    * (their epoch's watermark is already recorded by the incremental
    * commit they follow). */
  private def commitRows(spark: SparkSession, indexRoot: String,
                         spec: Spec, rows: DataFrame, srcVersion: Int,
                         replaceAll: Boolean,
                         txnTag: Boolean = true): Int =
    VersionedTable.upsert(spark, indexRoot,
      rows.withColumn("epoch", lit(srcVersion)),
      keys = Seq("band_idx", "band_hash", spec.idCol, "epoch"),
      partCols = Seq("band_idx", "epoch"),
      statsCols = Seq(spec.idCol), bloomCols = Seq(spec.idCol),
      txn = if (txnTag)
        Some((StreamPrefix + spec.srcRoot, srcVersion.toLong)) else None,
      replaceAll = replaceAll)

  /** Live epoch count, off the manifest's partition dirs — zero I/O
    * beyond the manifest read. */
  private def epochCount(spark: SparkSession, indexRoot: String): Int =
    VersionedTable.resolveManifest(spark, indexRoot, None)
      .mapping.keysIterator
      .map(rel => rel.substring(rel.indexOf('/') + 1)).toSet.size

  /** Fold every live epoch into `srcVersion`'s: ONE index-sized
    * replaceAll commit moving rows (no re-shingling, no minhash).
    * Opportunistic maintenance — a crash before it simply leaves the
    * epochs for the next refresh to fold. */
  private def consolidate(spark: SparkSession, indexRoot: String,
                          spec: Spec, srcVersion: Int): Int =
    commitRows(spark, indexRoot, spec,
      VersionedTable.read(spark, indexRoot)
        .select(col("band_idx"), col("band_hash"), col(spec.idCol)),
      srcVersion, replaceAll = true, txnTag = false)

  /** Advance the index to the source's current version. Incremental:
    * erase changed ids' bucket rows (bloom-probed key-list delete),
    * re-band inserted/updated docs from the FEED's post-image rows,
    * commit under the txn watermark. Returns the index version. */
  def refresh(spark: SparkSession, indexRoot: String): Int = {
    lastDocs.set(-1L)
    lastRebuild.set(false)
    val spec = readSpec(spark, indexRoot)
    val srcCur = VersionedTable.currentVersion(spark, spec.srcRoot)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed version at ${spec.srcRoot}"))
    val streamId = StreamPrefix + spec.srcRoot
    val synced = VersionedTable.currentVersion(spark, indexRoot)
      .flatMap(_ => VersionedTable.lastTxn(spark, indexRoot, streamId))
    synced match {
      case Some(v) if v >= srcCur =>
        VersionedTable.currentVersion(spark, indexRoot).get
      case None =>
        // smallQuery at the SOURCE frame (scan leaves carry real byte
        // estimates; wrapping downstream of persist/checkpoint sees
        // join-inflated frozen stats instead): every derived frame —
        // the count, the uniqueness probe, the band rows — inherits the
        // static session, so the whole rebuild leg plans as a handful
        // of jobs instead of one per AQE stage
        val docs = VersionedTable.smallQuery(
          VersionedTable.read(spark, spec.srcRoot, Some(srcCur))
            .select(col(spec.idCol), col(spec.textCol))).persist()
        try {
          lastDocs.set(docs.count())
          requireUniqueIds(spark, spec, docs, "in the corpus")
          lastRebuild.set(true)
          commitRows(spark, indexRoot, spec, bandRows(docs, spec), srcCur,
            replaceAll = false)
        } finally docs.unpersist()
      case Some(from) =>
        // source-frame smallQuery: see the rebuild leg's note
        val feed = VersionedTable.smallQuery(
          VersionedTable.changeFeed(spark, spec.srcRoot,
            Seq(spec.idCol), from.toInt, srcCur)).persist()
        try {
          val cap = idCap(spark)
          // one pass: each changed id + whether ANY of its feed ops is
          // non-insert (= the id existed at the synced version)
          val changed = VersionedTable.smallQuery(
            feed.groupBy(col(spec.idCol))
              .agg(max(when(col("op") =!= "insert", 1).otherwise(0))
                .as("__pre"))
              .limit(cap + 1)).collect()
          val changedIds = changed.map(_.get(0)).toSeq
          if (changedIds.length > cap) {
            // mass change: one full-rebuild commit beats collecting a
            // corpus-sized id list and a same-sized keyed delete
            val docs = VersionedTable.smallQuery(
              VersionedTable.read(spark, spec.srcRoot, Some(srcCur))
                .select(col(spec.idCol), col(spec.textCol)))
              .persist()
            try {
              lastDocs.set(docs.count())
              requireUniqueIds(spark, spec, docs, "in the corpus")
              lastRebuild.set(true)
              commitRows(spark, indexRoot, spec, bandRows(docs, spec),
                srcCur, replaceAll = true)
            } finally docs.unpersist()
          } else {
            lastDocs.set(changedIds.length.toLong)
            // prove the changed ids are still unique in the source AT
            // srcCur (covers feed-internal dups AND a new row colliding
            // with an unchanged one) — a semi-joined probe over the
            // feed's distinct ids, never a corpus-wide group-by
            requireUniqueIds(spark, spec,
              VersionedTable.read(spark, spec.srcRoot, Some(srcCur))
                .join(broadcast(feed.select(col(spec.idCol)).distinct()),
                  Seq(spec.idCol), "left_semi"),
              "among the changed ids")
            // erase FIRST (updates move band hashes, deletes vanish):
            // a replayed refresh re-erases already-gone rows (no-op)
            // and the upsert below is txn-idempotent. Erase ONLY ids
            // with an update/delete op: the feed keys on idCol, so an
            // insert-only id was ABSENT at the synced version and the
            // index holds no rows for it — and at thousands of probed
            // ids the per-file bloom FPR compounds to ~1, so the keyed
            // delete would rewrite ~every dir for nothing. Append-heavy
            // steady state (streaming ingest) skips the rewrite commit
            // entirely.
            val eraseIds = changed.filter(_.getInt(1) == 1)
              .map(_.get(0)).toSeq
            if (eraseIds.nonEmpty &&
                VersionedTable.currentVersion(spark, indexRoot).isDefined)
              VersionedTable.deleteWhereIn(spark, indexRoot, spec.idCol,
                eraseIds)
            val current = feed.filter(col("op") =!= "delete")
              .select(col(spec.idCol), col(spec.textCol))
            val v = commitRows(spark, indexRoot, spec,
              bandRows(current, spec), srcCur, replaceAll = false)
            // LSM discipline: appends accumulate (band, epoch) dirs;
            // past the cap, fold them — amortized index-sized, never
            // corpus-sized
            if (epochCount(spark, indexRoot) > maxEpochs(spark))
              consolidate(spark, indexRoot, spec, srcCur)
            else v
          }
        } finally feed.unpersist()
    }
  }

  /** Candidate (query id, corpus id) pairs for a `query` batch of (id,
    * text) docs: the batch's band rows joined against the INDEX on the
    * bucket key — bucket-bounded, never an all-pairs join. Distinct
    * pairs; self-matches (a query doc already indexed) excluded. */
  def candidatePairs(spark: SparkSession, indexRoot: String,
                     query: DataFrame): DataFrame = {
    val spec = readSpec(spark, indexRoot)
    val q = bandRows(query, spec)
      .withColumnRenamed(spec.idCol, "new_id")
    val idx = VersionedTable.read(spark, indexRoot)
      .withColumnRenamed(spec.idCol, "corpus_id")
    q.join(idx, Seq("band_idx", "band_hash"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
  }

  /** [[candidatePairs]] exact-verified: shingle ONLY the query docs and
    * the candidate corpus ids' texts (semi-joined source read) and keep
    * pairs with true n-gram Jaccard >= minJaccard — output matches the
    * exact all-pairs answer wherever the banding's recall holds (miss
    * probability (1-s^r)^bands; at 64/32 and s>=0.7, ~4e-10). Columns:
    * new_id, corpus_id, n_common, n1, n2, jaccard. */
  def verifiedPairs(spark: SparkSession, indexRoot: String,
                    query: DataFrame, minJaccard: Double): DataFrame = {
    val spec = readSpec(spark, indexRoot)
    // smallQuery on the QUERY batch, with the INDEX and SOURCE tables'
    // recorded manifest bytes added to the gate: every frame derived
    // from the batch below — band rows, candidates (which join the full
    // index), the corpus-side shingle verify, the returned frame —
    // inherits the batch's session, so the gate must price the WHOLE
    // pipeline's inputs, not just the probe-sized batch. A tiny probe
    // against a large index/corpus therefore keeps AQE (adaptive
    // partitions + runtime broadcast) instead of pinning the index
    // shuffle onto the 8-partition static clone; in the small case the
    // probe stays a few one-job static actions.
    val tableBytes: Option[BigInt] = for {
      i <- VersionedTable.recordedBytes(spark, indexRoot)
      s <- VersionedTable.recordedBytes(spark, spec.srcRoot)
    } yield i + s
    val q = VersionedTable.smallQuery(query, tableBytes)
    // localCheckpoint, not persist+count+unpersist-in-finally: the
    // method returns a LAZY frame, so a finally-scoped unpersist dropped
    // the cache before any caller action ran — the banding self-join
    // recomputed inside the returned plan and the pin count was pure
    // waste. The checkpoint stays materialized for the frame's lifetime
    // (candidate pairs are probe-sized) and serves both consumers: the
    // corpus semi-join and the pair join. LIFETIME CONTRACT: the blocks
    // are released by the ContextCleaner when the returned frame becomes
    // unreachable — a long-lived driver issuing many probe calls should
    // drop its references (or snapshot results) rather than hold every
    // returned frame.
    val cands = candidatePairs(spark, indexRoot, q)
      .localCheckpoint();
    {
      val corpusIds = cands.select(col("corpus_id")).distinct()
      val corpusDocs = VersionedTable.read(spark, spec.srcRoot)
        .join(corpusIds,
          col(spec.idCol) === col("corpus_id"), "left_semi")
        .select(col(spec.idCol), col(spec.textCol))
      val shq = FuzzyDedup.shingles(q, spec.idCol, spec.textCol,
        spec.shingleN).withColumnRenamed(spec.idCol, "new_id")
      val shc = FuzzyDedup.shingles(corpusDocs, spec.idCol, spec.textCol,
        spec.shingleN).withColumnRenamed(spec.idCol, "corpus_id")
      val n1 = shq.groupBy(col("new_id")).agg(count(lit(1)).as("n1"))
      val n2 = shc.groupBy(col("corpus_id")).agg(count(lit(1)).as("n2"))
      val common = shq.join(cands, Seq("new_id"))
        .join(shc, Seq("corpus_id", "shingle"))
        .groupBy(col("new_id"), col("corpus_id"))
        .agg(count(lit(1)).as("n_common"))
      VersionedTable.smallQuery(
        common.join(n1, Seq("new_id")).join(n2, Seq("corpus_id"))
          .withColumn("jaccard",
            col("n_common") / (col("n1") + col("n2") - col("n_common")))
          .filter(col("jaccard") >= minJaccard)
          .select(col("new_id"), col("corpus_id"), col("n_common"),
            col("n1"), col("n2"), col("jaccard")))
    }
  }

  private def render(spec: Spec): String = {
    import graft.ops.SpecFile.b64e
    s"#graft-dedupindex\t1\n" +
      s"#src\t${b64e(spec.srcRoot)}\n" +
      s"#id\t${b64e(spec.idCol)}\n" +
      s"#text\t${b64e(spec.textCol)}\n" +
      s"#n\t${spec.shingleN}\n" +
      s"#perm\t${spec.numPerm}\n" +
      s"#bands\t${spec.bands}\n" +
      s"#seed\t${spec.seed}\n"
  }

  private[graft] def readSpec(spark: SparkSession,
                              indexRoot: String): Spec = {
    import graft.ops.SpecFile
    val tags = SpecFile.tagged(
      SpecFile.readText(spark, specPath(indexRoot),
        s"no dedup index at $indexRoot (missing _dedupindex)"),
      "#graft-dedupindex\t1", indexRoot)
    Spec(SpecFile.b64d(tags("src")), SpecFile.b64d(tags("id")),
      SpecFile.b64d(tags("text")), tags("n").toInt, tags("perm").toInt,
      tags("bands").toInt, tags("seed").toLong)
  }
}
