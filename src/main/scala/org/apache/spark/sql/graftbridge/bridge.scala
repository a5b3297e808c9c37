package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column <-> Expression converters so
  * graft's native Catalyst expressions can be exposed as Columns. Lives in
  * the org.apache.spark.sql namespace purely for access; no Spark code is
  * modified or shadowed. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Session-scoped conf overrides that planner rules reading
  * `sessionState.conf` DIRECTLY (AQE's InsertAdaptiveSparkPlan among
  * them — it overrides SQLConfHelper.conf with the session's, so a
  * thread-local SQLConf never reaches it) actually observe:
  * clone the session (shares the SparkContext; snapshots conf, temp
  * views, injected extensions), apply `overrides` to the CLONE's conf,
  * and re-bind already-analyzed plans onto it for execution. The
  * parent session and its concurrent queries are untouched. */
object SessionBridge {
  def cloneWithConf(spark: org.apache.spark.sql.SparkSession,
                    overrides: Map[String, String])
      : org.apache.spark.sql.SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Execute `df`'s (already analyzed) plan under `spark`'s conf: the
    * re-analysis of a resolved plan is a fast no-op pass, and physical
    * planning — where the conf matters — happens on the target
    * session. */
  def rebind(spark: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (df.sparkSession eq spark) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)
}

/** One-job distributed map over a file list with the session's Hadoop
  * configuration shipped to executors ([[org.apache.spark.util
  * .SerializableConfiguration]] is private[spark]) — the scale leg of
  * footer-based file statistics: a 100 TB commit's thousands of fresh
  * files decode their footers across the cluster in a single
  * shuffle-free job instead of a driver loop. */
object HadoopBridge {
  def mapFiles[T: scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession, files: Seq[String],
      slices: Int)(
      f: (org.apache.hadoop.conf.Configuration, String) => T): Seq[T] = {
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(files, math.max(1, slices))
      .map(p => f(bc.value.value, p)).collect().toSeq
  }
}

/** Same access trick for logical plans: build a DataFrame from a custom
  * LogicalPlan node (Dataset.ofRows is private[sql]) and read a frame's
  * analyzed plan. */
object PlanBridge {
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** A parquet read as ONE file-source relation built from facts the
  * caller already holds: the dirs and files to list, and each leaf
  * dir's partition values (Catalyst internal form). `spark.read.parquet`
  * would glob and exists-check every path, then infer partitions from
  * the dir names; here the index only lists the roots (files stay
  * visible through `_metadata`), and the partition spec is taken as
  * given. `dataSchema = None` infers the file schema from the listed
  * files, as a schema-less `spark.read.parquet` does; either way every
  * data column reads nullable, as DataSource makes it. */
object ScanBridge {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
    InMemoryFileIndex, LogicalRelation, PartitionPath, PartitionSpec}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.types.StructType

  def parquet(spark: org.apache.spark.sql.SparkSession, roots: Seq[String],
              partitions: Seq[(String, InternalRow)],
              partitionSchema: StructType,
              dataSchema: Option[StructType])
      : org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = s.sessionState.newHadoopConf()
    val fs = new Path(roots.head).getFileSystem(conf) // one table, one fs
    def qualified(p: String): Path = fs.makeQualified(new Path(p))
    val rootPaths = roots.distinct.map(qualified)
    val spec = PartitionSpec(partitionSchema,
      if (partitionSchema.isEmpty) Nil
      else partitions.map { case (d, v) => PartitionPath(v, qualified(d)) })
    val index = new InMemoryFileIndex(s, rootPaths, Map.empty, None,
      userSpecifiedPartitionSpec = Some(spec))
    // a root that listed nothing: the index logs a missing root and
    // moves on, where a read must fail
    val files = index.allFiles()
    val listed = files.flatMap(f => Seq(f.getPath, f.getPath.getParent)).toSet
    rootPaths.filterNot(listed.contains)
      .find(p => !fs.exists(p))
      .foreach(p => throw new java.io.FileNotFoundException(
        s"table data path $p does not exist"))
    val format = new ParquetFileFormat
    val data = dataSchema.getOrElse(
      format.inferSchema(s, Map.empty, files).getOrElse(
        throw new IllegalStateException(
          s"no parquet file to infer a schema from under ${roots.head}")))
    org.apache.spark.sql.classic.Dataset.ofRows(s, LogicalRelation(
      HadoopFsRelation(index, partitionSchema, data.asNullable, None,
        format, Map.empty)(s)))
  }
}

/** Bridge into Spark's file-source execution internals so a DSv2
  * [[org.apache.spark.sql.connector.read.streaming.MicroBatchStream]]
  * (graft-cdc) can serve staged parquet through Spark's OWN partition
  * planning and vectorized parquet reader instead of hand-rolled row
  * readers — the pieces ([[org.apache.spark.sql.execution.datasources
  * .FilePartition]], [[org.apache.spark.sql.execution.datasources.v2
  * .parquet.ParquetPartitionReaderFactory]]) are private[sql]. */
object FileStreamBridge {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.connector.read.{InputPartition,
    PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.{FilePartition,
    PartitionedFile}
  import org.apache.spark.sql.types.StructType

  /** Pack `(path, length, modificationTime)` parquet files into Spark's
    * standard bin-packed [[FilePartition]]s (openCostInBytes /
    * maxPartitionBytes rules — small staged files coalesce, large ones
    * parallelize across the cluster). */
  def parquetPartitions(spark: SparkSession,
                        files: Seq[(String, Long, Long)])
      : Array[InputPartition] = {
    val pfiles = files.map { case (path, len, mtime) =>
      PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        0L, len, Array.empty, mtime, len)
    }
    FilePartition.getFilePartitions(spark, pfiles,
        FilePartition.maxSplitBytes(spark, files.map(_._2).sum))
      .toArray
  }

  /** Marker for a ZERO-COPY CDC snapshot partition: the wrapped
    * FilePartition reads the TABLE's own live parquet files, with
    * (op, _commit_version, visible partition cols) injected as
    * per-file constant partition values and the output permuted to the
    * served column order by [[cdcReaderFactory]]. Staged-batch
    * partitions stay bare FilePartitions; one delegating factory
    * serves both kinds. */
  /** `forceRow`: Spark refuses to mix row-based and columnar input
    * partitions in one scan, so when the batch contains ANY DV
    * partition (row-path by necessity) its DV-free siblings read
    * row-path too; DV-free snapshots keep full columnar reads. */
  case class CdcSnapshotPartition(inner: InputPartition,
                                  forceRow: Boolean = false)
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** A zero-copy snapshot partition whose ONE whole file carries a
    * deletion vector: `positions` (sorted, `_metadata.row_index`
    * semantics) are skipped by the reader as it counts rows. Always a
    * SINGLE unsplit file — row indices are only reproducible by
    * counting when the read starts at row 0 and no filter skips rows —
    * and always read through the row path (a columnar batch cannot
    * drop interior rows without a selection vector). */
  case class CdcSnapshotDvPartition(inner: InputPartition,
                                    positions: Array[Long])
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Zero-copy snapshot partitions: live table files bin-packed like
    * [[parquetPartitions]], each carrying (op, version, its dir's
    * partition values) as the constant row the reader appends.
    * `partVals` are still path-escaped fragments; they unescape and
    * cast to `visibleParts`' types here (Spark's own partition-path
    * semantics: unescapePathName + string cast, default-partition →
    * null). Files carrying deletion-vector positions become single-file
    * [[CdcSnapshotDvPartition]]s (row-path, skip-by-count); DV-free
    * files bin-pack and keep columnar reads. */
  def cdcSnapshotPartitions(spark: SparkSession,
      files: Seq[(String, Long, Long, Seq[String], Seq[Long])],
      visibleParts: StructType, op: String, version: Int)
      : Array[InputPartition] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def castVal(raw: String,
                dt: org.apache.spark.sql.types.DataType): Any = {
      val un = ExternalCatalogUtils.unescapePathName(raw)
      if (un == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(un),
        org.apache.spark.sql.types.StringType), dt, tz).eval(null)
    }
    def pfile(path: String, len: Long, mtime: Long,
              vals: Seq[String]): PartitionedFile = {
      val consts: Seq[Any] =
        UTF8String.fromString(op) +: (version: Any) +:
          vals.zip(visibleParts.fields.toSeq).map { case (v, f) =>
            castVal(v, f.dataType) }
      PartitionedFile(InternalRow.fromSeq(consts),
        org.apache.spark.paths.SparkPath.fromPathString(path),
        0L, len, Array.empty, mtime, len)
    }
    val (dvd, plain) = files.partition(_._5.nonEmpty)
    val packed = FilePartition.getFilePartitions(spark,
        plain.map { case (p, l, mt, vals, _) => pfile(p, l, mt, vals) },
        FilePartition.maxSplitBytes(spark, plain.map(_._2).sum))
      .map(fp => CdcSnapshotPartition(fp,
        forceRow = dvd.nonEmpty): InputPartition)
    val dvParts = dvd.zipWithIndex.map {
      case ((p, l, mt, vals, pos), i) =>
        CdcSnapshotDvPartition(
          FilePartition(packed.length + i, Array(pfile(p, l, mt, vals))),
          pos.toArray): InputPartition
    }
    (packed ++ dvParts).toArray
  }

  /** The graft-cdc stream's ONE reader factory over both batch kinds:
    * bare FilePartitions (staged diffs, flat served-schema parquet) go
    * to `staged`; [[CdcSnapshotPartition]]s go to `snapshot` (data
    * cols + appended constants) and are PERMUTED to the served order —
    * `perm(j)` = the snapshot reader's ordinal serving output position
    * `j`, `servedTypes(j)` its type. Row path re-projects through an
    * UnsafeProjection built on the executor; columnar path permutes
    * the batch's column-vector array (zero copy). */
  def cdcReaderFactory(staged: PartitionReaderFactory,
      snapshot: Option[PartitionReaderFactory], perm: Array[Int],
      servedTypes: Array[org.apache.spark.sql.types.DataType])
      : PartitionReaderFactory =
    new CdcDelegatingReaderFactory(staged, snapshot, perm, servedTypes)

  /** Spark's own vectorized/columnar parquet reader factory — the
    * executor side of serving staged micro-batch parquet (flat schema)
    * and zero-copy snapshot files (`partitionSchema` = the constant
    * columns appended from each file's partitionValues). */
  def parquetReaderFactory(spark: SparkSession, schema: StructType,
      partitionSchema: StructType = new StructType())
      : PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetPartitionReaderFactory
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.sessionState.conf
    // the same executor-side conf ParquetScan.createReaderFactory
    // prepares — without it the row-based reader has no ReadSupport
    // class and every file read NPEs
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      schema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key,
      sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key,
      sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(schema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlConf.parquetFieldIdReadEnabled)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    ParquetPartitionReaderFactory(
      sqlConf,
      spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(hadoopConf)),
      schema, schema, partitionSchema, Array.empty, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

private class CdcDelegatingReaderFactory(
    staged: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    snapshot: Option[
      org.apache.spark.sql.connector.read.PartitionReaderFactory],
    perm: Array[Int],
    servedTypes: Array[org.apache.spark.sql.types.DataType])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference,
    UnsafeProjection}
  import org.apache.spark.sql.connector.read.{InputPartition,
    PartitionReader}
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private def snap = snapshot.getOrElse(throw new IllegalStateException(
    "snapshot partition planned without a snapshot reader wing"))

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case FileStreamBridge.CdcSnapshotPartition(inner, _) =>
      val in = snap.createReader(inner)
      new PartitionReader[InternalRow] {
        // built HERE (executor): projections are not serializable
        private val proj = UnsafeProjection.create(
          perm.zip(servedTypes).map { case (i, dt) =>
            BoundReference(i, dt, nullable = true) }.toSeq)
        override def next(): Boolean = in.next()
        override def get(): InternalRow = proj(in.get())
        override def close(): Unit = in.close()
      }
    case FileStreamBridge.CdcSnapshotDvPartition(inner, positions) =>
      // one WHOLE file, no filters: sequential row counting reproduces
      // _metadata.row_index exactly, so skipping `positions` applies
      // the deletion vector in-plan — no staged post-delete copy
      val in = snap.createReader(inner)
      new PartitionReader[InternalRow] {
        private val proj = UnsafeProjection.create(
          perm.zip(servedTypes).map { case (i, dt) =>
            BoundReference(i, dt, nullable = true) }.toSeq)
        private var rowIdx = -1L
        private var dvPtr = 0
        override def next(): Boolean = {
          while (in.next()) {
            rowIdx += 1
            while (dvPtr < positions.length && positions(dvPtr) < rowIdx)
              dvPtr += 1
            if (dvPtr >= positions.length || positions(dvPtr) != rowIdx)
              return true
          }
          false
        }
        override def get(): InternalRow = proj(in.get())
        override def close(): Unit = in.close()
      }
    case _ => staged.createReader(p)
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    p match {
      case FileStreamBridge.CdcSnapshotPartition(inner, forceRow) =>
        !forceRow && snap.supportColumnarReads(inner)
      case _: FileStreamBridge.CdcSnapshotDvPartition =>
        false // interior-row skips need the counting row path
      case _ => staged.supportColumnarReads(p)
    }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = p match {
    case FileStreamBridge.CdcSnapshotPartition(inner, _) =>
      val in = snap.createColumnarReader(inner)
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = in.next()
        override def get(): ColumnarBatch = {
          val b = in.get()
          // permute the column-vector ARRAY; the vectors themselves are
          // shared with the inner batch (closed via the inner reader)
          new ColumnarBatch(perm.map(b.column), b.numRows())
        }
        override def close(): Unit = in.close()
      }
    case _ => staged.createColumnarReader(p)
  }
}
