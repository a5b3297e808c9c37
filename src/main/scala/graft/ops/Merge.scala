package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.net.URI
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * MERGE upsert as a composition (SURVEY §2.4 J4): matched rows take the
 * update, unmatched target rows survive — expressed as
 * target ANTI-JOIN updates  UNION ALL  updates.
 *
 * The reference does this in the warehouse (Snowflake MERGE,
 * load_to_snowflake.py:212-231); with plain parquet tables the equivalent is
 * this composition plus an atomic directory swap. No Delta/Iceberg assumed.
 *
 * Scale note: the anti-join shuffles on the merge key. When the update batch
 * is small relative to the target (the normal case: daily increment vs years
 * of history) Catalyst/AQE broadcasts the update side, so the target is
 * never shuffled — only scanned and rewritten. Partition the target by a key
 * prefix (e.g. date) and the rewrite touches only affected partitions.
 */
object Merge {

  /** Pure-dataframe MERGE: keys identify a row; update rows win. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = target.join(updates.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    updates.unionByName(survivors)
  }

  /** Ordered CDC apply: `changes` carries an op column (I/U = upsert,
    * D = tombstone) and an ordering column; the LAST change per key wins
    * (keep-last over `order`, which must totally order changes within a
    * key — a log sequence number in a real CDC feed). Keys whose final op
    * is D disappear; I/U keys take the change row; untouched target rows
    * survive. Rows with a NULL or unrecognized op are DROPPED BEFORE the
    * keep-last (they neither upsert nor delete — without the guard a NULL
    * op would fail the =!= "D" filter yet still anti-join its key away, a
    * silent delete from a malformed feed). One shuffle for keep-last, one
    * anti-join on the touched key set — cost scales with
    * |changes| + |target|, never |changes|·|target|. */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
               order: Seq[String], opCol: String = "op"): DataFrame = {
    val wellFormed = changes.filter(col(opCol).isin("I", "U", "D"))
    val last = WindowAnalytics.keepLast(wellFormed, keys, order)
    val upserts = last.filter(col(opCol) =!= "D")
      .drop((opCol +: order.filterNot(target.columns.contains)): _*)
    val survivors = target.join(last.select(keys.map(col): _*), keys,
      "left_anti")
    upserts.unionByName(survivors)
  }

  /** Snapshot diff between two corpus versions: which keys were added,
    * removed, or changed (null-safe comparison over `compareCols`) — the
    * dataset-versioning primitive behind incremental re-training ("what
    * moved since the last corpus cut?"). Unchanged rows are dropped before
    * anything else happens, so downstream work scales with the CHANGE
    * volume, not the corpus. One shuffle (the full outer join on the key);
    * at 100 TB partition both snapshots by the same key layout (bucketed
    * writes) and the join is exchange-free. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String],
                   changeCol: String = "change"): DataFrame = {
    import org.apache.spark.sql.functions._
    // presence markers, not key nullness: a legitimately-null key would
    // otherwise read as "absent" and a removed null-keyed row would be
    // labeled added
    val o = oldDf.select(keys.map(c => col(c).as(s"__old_$c")) ++
      compareCols.map(c => col(c).as(s"__old_$c")) :+
      lit(true).as("__old_present"): _*)
    val n = newDf.select((keys ++ compareCols).map(col) :+
      lit(true).as("__new_present"): _*)
    val joinCond = keys.map(k => col(k) <=> col(s"__old_$k")).reduce(_ && _)
    val sameContent = compareCols.map(c => col(c) <=> col(s"__old_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val oldKeyPresent = col("__old_present").isNotNull
    val newKeyPresent = col("__new_present").isNotNull
    n.join(o, joinCond, "full_outer")
      .withColumn(changeCol,
        when(!oldKeyPresent, lit("added"))
          .when(!newKeyPresent, lit("removed"))
          .when(!sameContent, lit("changed")))
      .filter(col(changeCol).isNotNull)
      .select(keys.map(k => coalesce(col(k), col(s"__old_$k")).as(k)) :+
        col(changeCol): _*)
  }

  /** SCD2 history build: turn a change log (key, ts, attributes...) into
    * slowly-changing-dimension rows with validity intervals —
    * effective_from = the change's own timestamp, effective_to = the next
    * change's timestamp for the key (NULL = current row, is_current flag).
    * One window pass per key (single shuffle on the key); `orderCols`
    * must total-order changes within a key (add a sequence column when
    * timestamps can tie, or the interval endpoints are nondeterministic).
    */
  def scd2(changes: DataFrame, keys: Seq[String], ts: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((ts +: tieBreak).map(col): _*)
    changes
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** (exact partition values, canonical Hive directory path) for every
    * distinct combination of `partCols` in `values`, the directory path
    * rendered by the same CODE PATH the file writer uses: per column a
    * session-timezone string cast (evaluated by Spark inside the distinct
    * job — Cast semantics for dates/timestamps/doubles by construction)
    * fed through ExternalCatalogUtils.getPartitionPathString, the exact
    * function DynamicPartitionDataWriter applies when it names directories
    * (null/empty → __HIVE_DEFAULT_PARTITION__, specials %-escaped). So the
    * names match the on-disk layout byte-for-byte — verified against a
    * real partitionBy write over adversarial values in OpsSpec — without
    * writing anything. KEEPING the update side's exact values attached to
    * each path is the point: reconstructing values by partition-type
    * INFERENCE from the directory names is lossy for non-canonical
    * strings ('01' infers int 1, '1.50' infers 1.5, '2024-1-5' infers a
    * date that renders '2024-01-05'), and a lossy value silently breaks
    * the downstream anti-join AND dynamic overwrite (duplicate logical
    * keys + stray directories). Cost: ONE aggregation over `values`
    * collecting |touched partitions| rows — replacing the previous
    * scratch-write probe (three evaluations of the update plan, a serial
    * one-task partitioned write, 2·|touched| driver listings). The read
    * side attaches each value to its listed dir ([[readTouchedDirs]]),
    * so no file path is ever parsed back into a value, and the write
    * side renders through the real writer anyway. */
  private[graft] def partitionDirEntries(spark: SparkSession, values: DataFrame,
                                         partCols: Seq[String])
      : Seq[(Seq[Any], String)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val n = partCols.length
    // typed values + their writer-semantics string forms in one distinct:
    // the string columns are deterministic functions of the typed ones,
    // so cardinality is unchanged. Executes on `spark` (which may be the
    // commit session's AQE-off clone), not values' own session.
    val rows = org.apache.spark.sql.graftbridge.SessionBridge
      .rebind(spark, values).select(
      partCols.map(col) ++
        partCols.zipWithIndex.map { case (c, i) =>
          col(c).cast("string").as(s"__graft_s$i") }: _*)
      .distinct().collect()
    rows.toSeq.map { r =>
      val vals = (0 until n).map(r.get)
      val rel = partCols.zipWithIndex.map { case (c, i) =>
        ExternalCatalogUtils.getPartitionPathString(c, r.getString(n + i))
      }.mkString("/")
      (vals, rel)
    }
  }

  /** One-job delta probe for SMALL (statically planned) commits: one
    * SINGLE-STAGE pass over the delta (per-partition local distincts,
    * driver-side final dedupe, no exchange) that serves BOTH consumers
    * that otherwise each evaluate the delta: the touched-dir entries
    * ([[partitionDirEntries]]'s distinct+collect job, with its exchange)
    * and the survivors anti-join's key set (the write plan's two
    * HashAggregate exchanges over a re-scan of the delta). Returns
    * (entries, Some(key tuples)) — the ENTRIES side is always complete
    * (its per-partition volume is bounded by the touched-partition
    * count, same class as the job it replaces), while the KEY side
    * drops to None past `maxKeyRows` distinct tuples per partition
    * (explode-shaped deltas whose leaf bytes are small but whose output
    * is not; the caller then keeps the in-plan key aggregation, with no
    * second entries job). Values and dir names render through exactly
    * the code paths partitionDirEntries uses (session-tz string cast
    * evaluated inside Spark, getPartitionPathString on the driver), so
    * the entries are byte-identical to that job's. */
  private[graft] def deltaProbe(spark: SparkSession, values: DataFrame,
                                keys: Seq[String], partCols: Seq[String],
                                maxKeyRows: Int,
                                collectKeys: Boolean = true)
      : (Seq[(Seq[Any], String)], Option[Seq[Seq[Any]]]) = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val nk = if (collectKeys) keys.length else 0
    val keyCols = if (collectKeys) keys else Nil
    val np = partCols.length
    val proj = org.apache.spark.sql.graftbridge.SessionBridge
      .rebind(spark, values).select(
        keyCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"__graft_k$i") } ++
        partCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"__graft_p$i") } ++
        partCols.zipWithIndex.map { case (c, i) =>
          col(c).cast("string").as(s"__graft_s$i") }: _*)
    val cap = maxKeyRows
    // tagged rows: 0 = a partition-combo row (always emitted, complete),
    // 1 = a key tuple (stops at cap+1 per partition; tag 2 = overflow
    // marker so a runaway delta aborts the key transfer instead of
    // flooding the driver — the entries keep flowing regardless)
    val collected = proj.rdd.mapPartitions { it =>
      val keySeen = scala.collection.mutable.LinkedHashSet
        .empty[org.apache.spark.sql.Row]
      val partSeen = scala.collection.mutable.LinkedHashSet
        .empty[org.apache.spark.sql.Row]
      var overflow = false
      while (it.hasNext) {
        val r = it.next()
        partSeen += org.apache.spark.sql.Row.fromSeq(
          (nk until nk + 2 * np).map(r.get))
        if (nk > 0 && !overflow) {
          keySeen += org.apache.spark.sql.Row.fromSeq(
            (0 until nk).map(r.get))
          if (keySeen.size > cap) { overflow = true; keySeen.clear() }
        }
      }
      partSeen.iterator.map(r => (0, r)) ++
        (if (overflow) Iterator((2, null: org.apache.spark.sql.Row))
         else keySeen.iterator.map(r => (1, r)))
    }.collect()
    val entries = collected.iterator.filter(_._1 == 0).map(_._2).toSeq
      .distinct.map { r =>
        val vals = (0 until np).map(r.get)
        val rel = partCols.zipWithIndex.map { case (c, i) =>
          ExternalCatalogUtils.getPartitionPathString(c,
            r.getString(np + i))
        }.mkString("/")
        (vals, rel)
      }.distinct
    val overflowed = collected.exists(_._1 == 2)
    val keyTuples =
      if (!collectKeys || overflowed) None
      else {
        val ks = collected.iterator.filter(_._1 == 1).map(_._2).toSeq
          .distinct.map(r => (0 until nk).map(r.get))
        if (ks.size > cap) None else Some(ks)
      }
    (entries, keyTuples)
  }

  /** Which of the relative (possibly nested) dir paths exist under
    * `base` — answered with one listStatus per touched INTERNAL node
    * instead of one exists() round-trip per leaf. A daily increment
    * touching thousands of (date, source) leaves under a few hundred
    * date dirs costs a few hundred listings (each returning all children
    * at once) instead of thousands of serial ~20-50 ms HEAD calls on an
    * object store — the same per-leaf driver tax the single multi-path
    * scan already removed from the read side. */
  private[graft] def existingDirs(fs: FileSystem, base: Path,
                                  rels: Seq[String]): Set[String] = {
    def children(p: Path): Set[String] =
      try fs.listStatus(p).iterator
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    def walk(parent: Path, groups: Map[String, Seq[Seq[String]]],
             prefix: String): Set[String] = {
      if (groups.isEmpty) return Set.empty
      val names = children(parent)
      groups.iterator.flatMap { case (head, tails) =>
        if (!names.contains(head)) Iterator.empty
        else {
          val (done, deeper) = tails.partition(_.isEmpty)
          val here =
            if (done.nonEmpty) Iterator(prefix + head) else Iterator.empty
          val sub = walk(new Path(parent, head),
            deeper.groupBy(_.head).map { case (h, ts) => h -> ts.map(_.tail) },
            s"$prefix$head/")
          here ++ sub.iterator
        }
      }.toSet
    }
    walk(base,
      rels.map(_.split("/").toSeq).groupBy(_.head)
        .map { case (h, ts) => h -> ts.map(_.tail) },
      "")
  }

  /** ONE scan over touched partition directories with the update side's
    * EXACT values as their partition values (VersionedTable.scanLeaves:
    * one file-source relation, no partition discovery). The naive shape —
    * one `spark.read.parquet(dir)` relation per touched directory,
    * unioned — pays per-relation fixed cost (a listing + footer-read
    * driver job and an analysis leg each) |touched| times: ~80 touched
    * leaves cost ~10 s of pure planning at sf0.1, and a daily increment
    * over a 100 TB lake touches thousands. The values never round-trip
    * through partition-type inference or a path, so '01' stays '01'.
    * `dataSchema` is the files' schema; None infers it from the files. */
  private[graft] def readTouchedDirs(spark: SparkSession, basePath: String,
                                   live: Seq[(Seq[Any], String)],
                                   partCols: Seq[String],
                                   pTypes: Seq[org.apache.spark.sql.types.DataType],
                                   dataSchema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    VersionedTable.scanLeaves(spark,
      live.map { case (vals, rel) =>
        VersionedTable.ScanLeaf("", s"$basePath/$rel",
          VersionedTable.catalystValues(vals, pTypes)) },
      org.apache.spark.sql.types.StructType(partCols.zip(pTypes).map {
        case (c, t) => org.apache.spark.sql.types.StructField(c, t) }),
      dataSchema)

  /** Partition-pruned MERGE into a Hive-partitioned parquet table
    * (nested directories `c1=v1/c2=v2/...` for `partCols`): only
    * partitions whose value combination appears in the update set are
    * READ, and only those are REWRITTEN — the daily increment against
    * years of history touches O(|delta partitions|) I/O, not O(|table|)
    * (the reference's warehouse MERGE on the composite (symbol, date)
    * key, load_to_snowflake.py:212-231, has the same property via micro-
    * partition pruning; a 100 TB lake partitions by (date, source) the
    * same way).
    *
    * Read side: each touched directory is resolved by its canonical path
    * ([[partitionDirEntries]]) and scanned DIRECTLY in ONE relation whose
    * partition spec carries the update side's EXACT values
    * ([[readTouchedDirs]]): no partition discovery, plan cost O(1) in
    * |touched partitions|, the file schema inferred from the listed
    * files. Reconstructing values by partition-type inference instead is
    * silently lossy for non-canonical strings ('01' → int 1 → "1"): the
    * anti-join then misses the old rows (duplicate logical keys in the
    * output) and dynamic overwrite writes a stray `c=1` directory
    * alongside the original `c=01`.
    * Write side: Spark's dynamic partition overwrite publishes only the
    * partitions present in the merged delta — untouched directories are
    * never listed, read, or renamed (their files keep byte- and
    * mtime-identity; asserted in OpsSpec). The merged delta is staged to a
    * side path first because Spark refuses to overwrite a path it is
    * reading from.
    *
    * Crash story: per-partition old-or-new via the committer's staging
    * renames — a crash mid-publish can leave a PREFIX of touched
    * partitions updated (each individually consistent). For table-level
    * all-or-nothing on rename-less object stores, use [[VersionedTable]].
    * Every `partCols` column must be one of `keys` and non-null in
    * `updates`. */
  def upsertParquetPruned(spark: SparkSession, tablePath: String,
                          updates: DataFrame, keys: Seq[String],
                          partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "at least one partition column")
    partCols.foreach(c => require(keys.contains(c),
      s"partition column $c must be part of the merge key"))
    val fs = FileSystem.get(URI.create(tablePath),
      spark.sparkContext.hadoopConfiguration)
    val target = new Path(tablePath)
    if (!fs.exists(target)) {
      updates.write.partitionBy(partCols: _*).parquet(tablePath)
      return
    }
    val entries = partitionDirEntries(spark, updates, partCols)
    val existing = existingDirs(fs, target, entries.map(_._2))
    val live = entries.filter { case (_, rel) => existing.contains(rel) }
    val merged =
      if (live.isEmpty) updates // all update partitions are new
      else {
        val pTypes = partCols.map(c => updates.schema(c).dataType)
        val pruned = readTouchedDirs(spark, tablePath, live, partCols,
          pTypes, dataSchema = None)
        upsert(pruned, updates, keys)
      }
    val stage = tablePath + ".__merge_stage"
    merged.write.mode("overwrite").parquet(stage)
    // repartition on the partition columns: one writer task per touched
    // partition, so each directory gets one file per merge instead of
    // (parallelism × partitions) tiny files — small-files hygiene that
    // matters as much at 100 TB as it does here
    spark.read.parquet(stage)
      .repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(tablePath)
    fs.delete(new Path(stage), true)
  }

  /** Single-partition-column convenience overload. */
  def upsertParquetPruned(spark: SparkSession, tablePath: String,
                          updates: DataFrame, keys: Seq[String],
                          partCol: String): Unit =
    upsertParquetPruned(spark, tablePath, updates, keys, Seq(partCol))

  /** MERGE into a parquet table path with a rename swap: write the merged
    * result next to the table, back the old table up, rename the new one
    * in. The swap is two renames, so a crash between them can leave the
    * table path briefly absent — recovered on the next call by restoring
    * the backup before merging (readers therefore see old, new, or a
    * retryable not-found; never a partial table). On object stores where
    * rename is copy-based (S3A), use [[VersionedTable]] instead (rename-
    * free manifest commit). Rewrites the whole table — prefer
    * [[upsertParquetPruned]] for partitioned targets.
    */
  def upsertParquet(spark: SparkSession, tablePath: String, updates: DataFrame,
                    keys: Seq[String]): Unit = {
    val fs = FileSystem.get(URI.create(tablePath), spark.sparkContext.hadoopConfiguration)
    val target = new Path(tablePath)
    val tmp = new Path(tablePath + ".__merge_tmp")
    val oldBak = new Path(tablePath + ".__merge_old")
    // Hadoop rename reports most failures by RETURNING FALSE, not throwing;
    // continuing past a failed rename here could delete the only remaining
    // copy of the table, so every rename is checked.
    def renameOrFail(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    // crash recovery: a previous attempt may have renamed the table away
    // without completing the swap -- restore the backup first
    if (!fs.exists(target) && fs.exists(oldBak)) renameOrFail(oldBak, target)
    val merged =
      if (fs.exists(target)) upsert(spark.read.parquet(tablePath), updates, keys)
      else updates
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(oldBak)) fs.delete(oldBak, true)
    if (fs.exists(target)) renameOrFail(target, oldBak)
    renameOrFail(tmp, target)
    // only now is the backup redundant
    fs.delete(oldBak, true)
  }
}
