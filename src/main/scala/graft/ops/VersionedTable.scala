package graft.ops

import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * A minimal versioned parquet table: partition-pruned MERGE with a
 * RENAME-FREE, table-level-atomic commit — the metadata-layer answer to the
 * reference's warehouse MERGE (Snowflake MERGE on (symbol, date),
 * load_to_snowflake.py:212-231) for object stores where directory rename is
 * copy-based and non-atomic (S3A). The same idea Delta/Iceberg implement at
 * production depth, cut down to the piece the engine needs: immutable data
 * generations + a manifest + a commit marker.
 *
 * Layout under `root` (partition dirs nest for composite `partCols`):
 * {{{
 *   gen<N>/<c1>=<v1>/<c2>=<v2>/part-*.parquet   immutable data, never renamed
 *   _manifest.<N>                               header + "<relDir>\tgen<M>"
 *   _commit.<N>                                 empty marker; its existence
 *                                               IS the commit of version N
 * }}}
 *
 * The manifest is self-describing (format v3, the only one the reader
 * accepts): a header records the partition column NAMES and the full
 * table SCHEMA (StructType JSON), so reads never depend on
 * partition-type inference — each generation is
 * scanned with the schema its version committed, and partition values parse
 * from the directory names under their DECLARED types. That kills two
 * silent-corruption classes: non-canonical string values ('01', '1.50')
 * that inference would round-trip to different strings, and schema
 * evolution (a column added in v3 reads as null from v1's files instead of
 * failing the union).
 *
 * Every write creates fresh objects (data files, manifest, marker) — nothing
 * is ever renamed or overwritten, so each step is a plain object PUT, atomic
 * on S3 and every HDFS-like store. Readers resolve `max N with _commit.<N>
 * present` and go through manifest N; a crash at ANY point of an unpublished
 * upsert leaves only orphan objects (unreferenced gen dirs / a manifest with
 * no marker) that readers never look at — old version stays current, no
 * partial state is observable (crash-injection test in OpsSpec).
 *
 * Concurrency: version N+1's manifest is CLAIMED with
 * `create(..., overwrite=false)` at the START of [[prepare]] — of two
 * writers racing to stage the same version, exactly one wins and the loser
 * throws immediately (no co-published half-merged state); [[publish]]
 * double-guards the marker the same way. A crashed prepare leaves its claim
 * behind; [[vacuum]] clears unpublished stages, so crash recovery is
 * "vacuum, then retry" (asserted in OpsSpec). The claim needs
 * create-exclusive visibility (HDFS, local, any store with conditional
 * PUT); on eventually-visible stores keep the single-writer discipline.
 *
 * MERGE cost: only partitions named in the update set are read (resolved
 * with their exact values via [[Merge.partitionDirEntries]]) and only those
 * get new data files in gen<N+1>; untouched partitions stay mapped to their
 * old generation — O(|delta|) I/O per upsert at any table size.
 * [[vacuum]]'s `keepVersions` retains a time-travel window: the last K
 * committed versions stay readable via `asOfVersion`.
 */
object VersionedTable {

  // ----- branch refs ------------------------------------------------
  // A table handle is `path` (the main chain) or `path@branch` — the
  // Iceberg-refs idea mapped onto path-addressed tables: a branch is an
  // independent manifest/commit chain living in the SAME root, sharing
  // the main chain's immutable generation dirs at fork and writing its
  // own (`gen.<branch>.<v>`) after. Every existing API — upsert, DML,
  // readWhere, change feeds, SQL targets — works on a branch handle
  // unchanged, because all path/name construction routes through the
  // helpers below. See [[createBranch]] / [[fastForward]].

  private val BranchNameRe = "[A-Za-z0-9_-]{1,64}".r

  /** Split a handle into (physical root, branch name or ""). The `@` is
    * a branch separator only when it appears in the LAST path segment
    * and the suffix is a legal branch name — `s3://user@host/x` and
    * paths with earlier `@`s pass through untouched. */
  private[graft] def splitRef(handle: String): (String, String) = {
    val at = handle.lastIndexOf('@')
    if (at > handle.lastIndexOf('/') && at > 0 &&
        BranchNameRe.matches(handle.substring(at + 1)))
      (handle.substring(0, at), handle.substring(at + 1))
    else (handle, "")
  }

  /** Physical table root of a handle (branch suffix stripped) — what
    * every data/metadata PATH is built from. */
  private def tableRoot(handle: String): String = splitRef(handle)._1

  /** Marker/manifest/sidecar namespace infix: "" on main, "b-<name>."
    * on a branch — `_commit.3` vs `_commit.b-dev.3`. The `b-` prefix
    * keeps main's digit-parse unambiguous. */
  private def brNs(handle: String): String = {
    val b = splitRef(handle)._2
    if (b.isEmpty) "" else s"b-$b."
  }

  /** Generation dir name for version `v` of this ref: `gen<v>` on main,
    * `gen.<branch>.<v>` on a branch — single path segment, disjoint
    * namespaces, so branch writes can never collide with main's (or
    * another branch's) and content tokens stay globally comparable. */
  private def genName(handle: String, v: Int): String = {
    val b = splitRef(handle)._2
    if (b.isEmpty) s"gen$v" else s"gen.$b.$v"
  }

  private def commitName(handle: String, v: Int) =
    s"_commit.${brNs(handle)}$v"
  private def manifestName(handle: String, v: Int) =
    s"_manifest.${brNs(handle)}$v"

  private[graft] def fsFor(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(URI.create(tableRoot(root)),
      spark.sparkContext.hadoopConfiguration)

  /** Create `path` create-exclusively and return a stream to fill it. On
    * HDFS `create(overwrite=false)` is one atomic namenode op, but on the
    * local filesystem it is exists-check-then-create — two threads racing
    * the same claim can BOTH pass the check, and the claim protocol's
    * mutual exclusion silently breaks (observed as both writers staging
    * the same gen dir). For `file:` URIs the claim therefore goes through
    * java.nio `Files.createFile` (O_CREAT|O_EXCL — atomic in POSIX,
    * throws FileAlreadyExistsException, an IOException, to the loser);
    * the winner then reopens its own claim for content. Object stores
    * need a conditional-PUT claim here instead (S3 If-None-Match). */
  private[graft] def createExclusive(fs: FileSystem,
                                     path: Path): org.apache.hadoop.fs.FSDataOutputStream =
    if (fs.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(path.toUri.getPath)
      try java.nio.file.Files.createFile(local)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          // first-ever version: table root not created yet
          java.nio.file.Files.createDirectories(local.getParent)
          java.nio.file.Files.createFile(local)
      }
      fs.create(path, true)
    } else fs.create(path, false)

  /** Signals an [[upsert]] whose (streamId, batchId) tag is already
    * committed — caught by upsert itself (idempotent no-op) after the
    * post-claim re-check in prepare. */
  private[graft] class TxnAlreadyCommittedException(msg: String)
    extends RuntimeException(msg)

  /** Lost the create-exclusive claim on `_manifest.<next>` to a concurrent
    * writer (or hit a crashed writer's leftover claim). Subtype of
    * IllegalStateException so callers that treated every staging failure
    * as fatal still do; [[commitLoop]] alone catches it, and resolves it
    * by the op's [[ClaimRace]]. */
  private[graft] class StagingRaceException(msg: String,
                                            cause: Throwable = null)
    extends IllegalStateException(msg, cause)

  /** Two writers touched OVERLAPPING partitions: the optimistic retry
    * refused to re-merge automatically (the loser's anti-join ran against
    * a snapshot the winner has since replaced — blindly retrying could
    * resurrect rows the winner deleted). The caller re-runs its merge
    * against the new current version deliberately. */
  class ConcurrentWriteConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Highest committed version, if any: max N over `_commit.<N>` markers. */
  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val vs = history(spark, root)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** All committed versions of this ref (main or branch), ascending —
    * the time-travel index. Main parses only all-digit markers so branch
    * markers (`_commit.b-<name>.<v>`) never leak into its history. */
  def history(spark: SparkSession, root: String): Seq[Int] = {
    val fs = fsFor(spark, root)
    if (!fs.exists(new Path(tableRoot(root)))) return Seq.empty
    val prefix = s"_commit.${brNs(root)}"
    fs.listStatus(new Path(tableRoot(root))).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
          n.stripPrefix(prefix).forall(_.isDigit) &&
          n.stripPrefix(prefix).nonEmpty =>
        n.stripPrefix(prefix).toInt }.sorted
  }

  /** Committed versions with their COMMIT times (epoch-ms), ascending —
    * the commit instant is the `_commit.<N>` marker's modification time:
    * the marker is created exactly once (create-exclusive) at publish, so
    * its mtime IS the atomic commit step's wall clock, with no manifest
    * format change (on object stores this is the marker PUT time). */
  def historyDetail(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val fs = fsFor(spark, root)
    history(spark, root).map { v =>
      v -> fs.getFileStatus(new Path(tableRoot(root), commitName(root, v)))
        .getModificationTime
    }
  }

  /** Highest version committed at or before `timestampMs` — Delta's
    * TIMESTAMP AS OF resolution. None when the table has no commit that
    * old (the caller asked for a time before the table existed). */
  def versionAsOf(spark: SparkSession, root: String,
                  timestampMs: Long): Option[Int] = {
    val h = historyDetail(spark, root).filter(_._2 <= timestampMs)
    if (h.isEmpty) None else Some(h.map(_._1).max)
  }

  /** [[restore]] to the version current at `timestampMs`. */
  def restoreAsOf(spark: SparkSession, root: String,
                  timestampMs: Long): Int =
    restore(spark, root, versionAsOf(spark, root, timestampMs).getOrElse(
      throw new IllegalArgumentException(
        s"no version committed at or before $timestampMs at $root")))

  /** Per-file column statistic: canonical-rendered min/max over non-null
    * values (absent = the file holds only nulls for the column), the null
    * count, and the column's DataType JSON AT WRITE TIME. The type tag is
    * what makes carried-forward stats safe under schema evolution: a
    * column widened Date→Timestamp leaves old partitions' stats rendered
    * in epoch-DAYS while queries compare in epoch-µs — without the tag
    * those files would be silently mis-skipped; with it, a stat whose
    * recorded type differs from the current schema is simply unusable
    * (the file scans, pruning degrades, results stay exact). Rendered
    * forms are exact — see [[renderStat]]. */
  private[graft] case class ColStat(min: Option[String], max: Option[String],
                                    nulls: Long, dtJson: Option[String])

  /** One dir's index-block slice ref: where the block lives in its
    * `_idx` sidecar, plus the stat/bloom COLUMN NAMES the block covers —
    * carried on the #diridx manifest line so index-coverage inference
    * (OPTIMIZE / MERGE rebuild, rewrite inference) needs ZERO sidecar
    * reads. */
  private[graft] case class IdxRef(sidecar: String, off: Long, len: Int,
                                   statCols: Seq[String],
                                   bloomCols: Seq[String])

  /** The lazily-populated sidecar/block caches of a Manifest — held in a
    * mutable holder so [[Manifest.withMapping]] (partition pruning) can
    * SHARE them with the pruned copy: repeated pruned compilations
    * against a pinned relation pay each slice read once. */
  private[graft] final class IdxCaches {
    val sidecars =
      scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]
    val blocks = scala.collection.concurrent.TrieMap
      .empty[String, (Map[String, Map[String, ColStat]],
        Map[String, Map[String, (String, Long, Int)]])]
  }

  /** Parsed manifest: partition column names, the version's full schema,
    * relative partition dir -> generation dir, and per live dir its row,
    * data-file and byte counts, its content token and (when indexed) its
    * `_idx` block ref — the reader guarantees the four per-dir counts
    * and the token for every mapped dir. Per-file column stats and bloom
    * refs live in the blocks, loaded lazily per dir. */
  private[graft] case class Manifest(partCols: Seq[String], schema: StructType,
                              mapping: Map[String, String],
                              txns: Map[String, Long],
                              dirRows: Map[String, Long],
                              dirFiles: Map[String, Long],
                              dvs: Map[String, (String, Long, Int, Long)],
                              dirBytes: Map[String, Long],
                              checks: Map[String, String],
                              derived: Map[String, (String, String)],
                              // the generation token of the commit that
                              // last CHANGED each dir's LOGICAL rows —
                              // maintenance rewrites (compact, small-file
                              // compaction) carry it while real writes
                              // bump it, so two versions' tokens agree
                              // exactly when the dir's content does
                              dirVers: Map[String, String],
                              fork: Option[(String, Int)],
                              op: Option[String],
                              idxRefs: Map[String, IdxRef],
                              keys: Seq[String],
                              props: Map[String, String],
                              // per-commit expectation violation counts
                              // (round 10): what THIS commit's gate saw,
                              // NOT carried — the DLT event-log shape
                              expectLog: Map[String, Long]) {
    // one lazy fetch per sidecar object per Manifest instance: an eq
    // probe over N indexed files costs ONE sidecar GET, not N, and a
    // manifest read costs ZERO (refs are offsets, not payloads)
    @transient private var caches = new IdxCaches
    private def sidecarCache = caches.sidecars

    /** Partition-pruned view sharing this instance's slice caches (a
      * plain copy() would silently drop them and re-read blocks every
      * plan compilation). */
    private[graft] def withMapping(newMapping: Map[String, String])
        : Manifest = {
      val c = copy(mapping = newMapping)
      c.caches = this.caches
      c
    }

    private def sidecarSlice(fs: FileSystem, root: String, sc: String,
                             off: Long, len: Int): Array[Byte] = {
      val bytes = sidecarCache.getOrElseUpdate(sc, {
        val in = fs.open(new Path(tableRoot(root), sc))
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      })
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }

    /** The bloom bytes for (file, column), sliced out of the
      * lazily-fetched `_bloomx` sidecar its dir's block points at. */
    private[graft] def bloomFor(fs: FileSystem, root: String, f: String,
                                c: String): Option[Array[Byte]] =
      blockFor(fs, root, relOf(f))._2.get(f).flatMap(_.get(c))
        .map { case (sc, off, len) => sidecarSlice(fs, root, sc, off, len) }

    /** The deletion vector (sorted deleted row positions) for file `f` —
      * sliced out of the lazily-fetched `_dvx.*` sidecar. Same one-GET-
      * per-sidecar amortization as [[bloomFor]]. */
    private[graft] def dvFor(fs: FileSystem, root: String,
                             f: String): Option[Array[Long]] =
      dvs.get(f).map { case (sc, off, len, _) =>
        deserializeDv(sidecarSlice(fs, root, sc, off, len))
      }

    // ----- per-dir index blocks --------------------------------------
    // The per-FILE index (stats + bloom refs) of every commit lives in
    // per-dir text blocks inside an `_idx.<v>` sidecar; the manifest
    // carries ONE `#diridx` slice ref per dir, so its size is
    // O(partitions), a commit writes index bytes only for the dirs it
    // touched, and a partition-pruned query loads only the surviving
    // dirs' blocks (one ranged read per dir, cached per Manifest
    // instance). A dir without a ref is unindexed.

    private[graft] type IdxBlock = (Map[String, Map[String, ColStat]],
      Map[String, Map[String, (String, Long, Int)]])

    /** One dir's full index (stats + bloom refs) — per-dir consumers
      * (rewrite index inference, metadata folds). */
    private[graft] def blockFor(fs: FileSystem, root: String,
                                rel: String): IdxBlock =
      caches.blocks.getOrElseUpdate(rel, idxRefs.get(rel) match {
        case None => (Map.empty, Map.empty)
        case Some(IdxRef(sc, off, len, _, _)) =>
          val buf = new Array[Byte](len)
          val in = fs.open(new Path(tableRoot(root), sc))
          try in.readFully(off, buf, 0, len) finally in.close()
          val lines = new String(buf, StandardCharsets.UTF_8)
            .split("\n").filter(_.nonEmpty)
          (parseStatLines(lines), parseBloomRefLines(lines))
      })

    /** rel dir of a manifest file key `gen/<part dirs>/<file>`. */
    private def relOf(f: String): String =
      f.substring(f.indexOf('/') + 1, f.lastIndexOf('/'))

    /** All indexed file keys under `prefix` (= `$gen/$rel/`) — the
      * per-dir enumeration [[selectScan]] prunes over. */
    private[graft] def idxFilesUnder(fs: FileSystem, root: String,
                                     rel: String,
                                     prefix: String): Seq[String] = {
      val (bs, br) = blockFor(fs, root, rel)
      (bs.keySet ++ br.keySet).filter(_.startsWith(prefix)).toSeq.sorted
    }

    /** The recorded stat of (file, column). */
    private[graft] def statOf(fs: FileSystem, root: String, f: String,
                              column: String): Option[ColStat] =
      blockFor(fs, root, relOf(f))._1.get(f).flatMap(_.get(column))

    /** Columns with a bloom for `f` — membership without fetching any
      * payload beyond the dir's block. */
    private[graft] def bloomColsOf(fs: FileSystem, root: String,
                                   f: String): Set[String] =
      blockFor(fs, root, relOf(f))._2.getOrElse(f, Map.empty).keySet

    /** Every dir's full index, materialized — for whole-table consumers
      * (column DDL, files metadata table). One ranged read per dir
      * block. */
    private[graft] def materializeIdx(fs: FileSystem, root: String)
        : IdxBlock = {
      val blocks = idxRefs.keysIterator.map(blockFor(fs, root, _)).toSeq
      (blocks.iterator.flatMap(_._1).toMap,
        blocks.iterator.flatMap(_._2).toMap)
    }
  }

  /** Deletion-vector wire format: varint count, then varint deltas of the
    * ascending positions (first delta from 0). A few bytes per deleted
    * row — sparse GDPR-style deletes over a 100 TB table cost KBs of
    * sidecar, not file rewrites. */
  private[graft] def serializeDv(positions: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(positions.length * 2 + 8)
    def vlong(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    vlong(positions.length.toLong)
    var prev = 0L
    positions.foreach { p =>
      require(p >= prev, s"DV positions must be sorted ascending: $p < $prev")
      vlong(p - prev); prev = p
    }
    out.toByteArray
  }

  /** The varint at `bytes(from)` — the shared decode both the full DV
    * reader and stageVersion's leading-count peek use (one wire format,
    * one decoder). Returns (value, next index). */
  private def readVarint(bytes: Array[Byte], from: Int): (Long, Int) = {
    var v = 0L; var s = 0; var b = 0; var i = from
    do { b = bytes(i) & 0xff; i += 1; v |= (b & 0x7fL) << s; s += 7 }
    while ((b & 0x80) != 0)
    (v, i)
  }

  private[graft] def deserializeDv(bytes: Array[Byte]): Array[Long] = {
    var i = 0
    def vlong(): Long = {
      val (v, next) = readVarint(bytes, i); i = next; v
    }
    val n = vlong().toInt
    val arr = new Array[Long](n)
    var prev = 0L
    var k = 0
    while (k < n) { prev += vlong(); arr(k) = prev; k += 1 }
    arr
  }

  private def readManifest(fs: FileSystem, root: String,
                           version: Int): Manifest =
    readManifestFile(fs, new Path(tableRoot(root), manifestName(root, version)),
      s"$root v$version")

  private def b64dec(x: String) = new String(
    java.util.Base64.getDecoder.decode(x), StandardCharsets.UTF_8)

  /** #filestat lines of an index block -> file -> column -> ColStat. */
  private def parseStatLines(lines: Array[String])
      : Map[String, Map[String, ColStat]] =
    lines.filter(_.startsWith("#filestat\t")).map { line =>
      val parts = line.split("\t", -1)
      require(parts.length == 7, s"malformed #filestat line: $line")
      val opt = (x: String) => if (x == "-") None else Some(b64dec(x))
      (b64dec(parts(1)), b64dec(parts(2)),
        ColStat(opt(parts(3)), opt(parts(4)), parts(5).toLong, opt(parts(6))))
    }.groupBy(_._1).map { case (f, rows) =>
      f -> rows.map { case (_, c, st) => c -> st }.toMap }

  /** #filebloomref lines of an index block -> file -> column ->
    * (sidecar, offset, length). */
  private def parseBloomRefLines(lines: Array[String])
      : Map[String, Map[String, (String, Long, Int)]] =
    lines.filter(_.startsWith("#filebloomref\t")).map { l =>
      val parts = l.split("\t", -1)
      require(parts.length == 6, s"malformed #filebloomref line: $l")
      (b64dec(parts(1)), b64dec(parts(2)),
        (parts(3), parts(4).toLong, parts(5).toInt))
    }.groupBy(_._1).map { case (f, rows) =>
      f -> rows.map { case (_, c, ref) => c -> ref }.toMap }

  /** The directives [[stageVersion]] writes first: the header, then the
    * per-stream `#txn` watermarks ([[readTxnDirectives]] stops after
    * them). */
  private val LeadingDirectives = Set("#graft-manifest", "#partcols",
    "#schema", "#fork", "#op", "#expectlog", "#keys", "#txn")

  /** Every directive [[stageVersion]] writes — the manifest format is
    * exactly these plus `<relDir>\t<gen>` mapping lines, and the reader
    * refuses anything else. */
  private val ManifestDirectives = LeadingDirectives ++ Set("#constraint",
    "#derivedpart", "#prop", "#dirrows", "#dirfiles", "#dirbytes", "#dirver",
    "#diridx", "#filedv")

  /** Parse a manifest by FILE path — shared by version-keyed reads and
    * the ref-scoped vacuum's table-wide liveness sweep (which must parse
    * OTHER refs' manifests it would never address by version). Accepts
    * only the `#graft-manifest\t3` shape the current writer emits: an
    * older header, an unknown directive, or a mapped dir missing any of
    * its per-dir lines fails loudly. */
  private def readManifestFile(fs: FileSystem, path: Path,
                               what: String): Manifest = {
    val in = fs.open(path)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    def formatError(detail: String) = throw new IllegalArgumentException(
      s"unrecognized manifest format at $what: $detail")
    if (!lines.headOption.contains("#graft-manifest\t3"))
      formatError(s"header ${lines.headOption.getOrElse("<empty>")}")
    lines.find(l => l.startsWith("#") &&
        !ManifestDirectives.contains(l.takeWhile(_ != '\t')))
      .foreach(l => formatError(s"line ${l.takeWhile(_ != '\t')}"))
    val partCols = lines.collectFirst {
      case l if l.startsWith("#partcols\t") =>
        l.split("\t").toSeq.drop(1)
    }.getOrElse(throw new IllegalStateException(s"manifest $what: no #partcols"))
    val schema = lines.collectFirst {
      case l if l.startsWith("#schema\t") =>
        DataType.fromJson(l.stripPrefix("#schema\t")).asInstanceOf[StructType]
    }.getOrElse(throw new IllegalStateException(s"manifest $what: no #schema"))
    val mapping = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(part, gen) = line.split("\t")
      part -> gen
    }.toMap
    // one line PER STREAM: every manifest carries the full per-stream
    // watermark map forward (Delta's SetTransaction idea), so maintenance
    // commits + vacuum can never erase a stream's exactly-once state
    val txns = lines.filter(_.startsWith("#txn\t")).map { l =>
      val parts = l.split("\t", -1)
      (b64dec(parts(1)), parts(2).toLong)
    }.groupBy(_._1).map { case (sid, xs) => sid -> xs.map(_._2).max }
    // exact row count, data-file count and data bytes per live partition
    // dir — the metadata-only COUNT(*) index (fastCount), the coverage
    // proof for metadata MIN/MAX (a column's file stats are complete for
    // a dir iff usable-stat files == dirfiles) and the relation's
    // sizeInBytes statistic, all without any file listing
    def perDir(tag: String) = lines.filter(_.startsWith(s"$tag\t")).map { l =>
      val parts = l.split("\t", -1)
      (b64dec(parts(1)), parts(2))
    }.toMap
    val dirRows = perDir("#dirrows").map { case (r, n) => r -> n.toLong }
    val dirFiles = perDir("#dirfiles").map { case (r, n) => r -> n.toLong }
    val dirBytes = perDir("#dirbytes").map { case (r, n) => r -> n.toLong }
    // content-version tokens: the gen that last changed each dir's
    // logical rows — what lets a change feed see THROUGH maintenance
    // rewrites
    val dirVers = perDir("#dirver")
    missingDirLine(mapping, dirRows, dirFiles, dirBytes, dirVers)
      .foreach(formatError)
    // deletion vectors: per-file deleted row positions living in _dvx.<N>
    // sidecars — merge-on-read DELETE
    val dvs = lines.filter(_.startsWith("#filedv\t")).map { l =>
      val parts = l.split("\t", -1)
      require(parts.length == 6, s"malformed #filedv line: $l")
      b64dec(parts(1)) -> (parts(2), parts(3).toLong, parts(4).toInt,
        parts(5).toLong)
    }.toMap
    // CHECK constraints: named SQL predicates every write must satisfy;
    // carried verbatim through every commit like the txn map
    val checks = lines.filter(_.startsWith("#constraint\t")).map { l =>
      val parts = l.split("\t", -1)
      (b64dec(parts(1)), b64dec(parts(2)))
    }.toMap
    // derived-partition registrations: partCol -> (kind, srcCol);
    // carried verbatim through every commit like checks
    val derived = lines.filter(_.startsWith("#derivedpart\t")).map { l =>
      val parts = l.split("\t", -1)
      b64dec(parts(1)) -> (b64dec(parts(2)), b64dec(parts(3)))
    }.toMap
    // branch fork point: (source branch name or "" for main, source
    // version) — written by createBranch, carried by every branch
    // commit; what fastForward's three-way merge anchors on
    val fork = lines.collectFirst { case l if l.startsWith("#fork\t") =>
      val parts = l.split("\t", -1)
      (if (parts(1) == "-") "" else b64dec(parts(1)), parts(2).toInt)
    }
    // operation name: what kind of commit produced this version —
    // merge/delete/update/compact/... — for DESCRIBE HISTORY
    val op = lines.collectFirst { case l if l.startsWith("#op\t") =>
      b64dec(l.split("\t", -1)(1)) }
    // the table's merge keys: recorded at every upsert so SQL-only
    // consumers (graft_changes) need no out-of-band knowledge
    val keyCols = lines.collectFirst {
      case l if l.startsWith("#keys\t") => l.split("\t").toSeq.drop(1)
    }.getOrElse(Nil)
    // table properties: free-form governance key/values, carried
    // verbatim through every commit like the CHECK registry
    val props = lines.filter(_.startsWith("#prop\t")).map { l =>
      val parts = l.split("\t", -1)
      require(parts.length == 3, s"malformed #prop line: $l")
      (b64dec(parts(1)), b64dec(parts(2)))
    }.toMap
    // per-dir index-block refs: the file-level stats/bloom-ref index
    // lives in `_idx.<v>` sidecar blocks, one slice ref per dir — the
    // manifest stays O(partitions) at any file count
    val idxRefs = lines.filter(_.startsWith("#diridx\t")).map { l =>
      val parts = l.split("\t", -1)
      require(parts.length == 7, s"malformed #diridx line: $l")
      def cols(x: String) =
        b64dec(x).split("\t").filter(_.nonEmpty).toSeq
      b64dec(parts(1)) -> IdxRef(parts(2), parts(3).toLong, parts(4).toInt,
        cols(parts(5)), cols(parts(6)))
    }.toMap
    // per-commit expectation gate counts (round 10): what THIS commit's
    // gate saw — absent on commits with no gate, zero counts = ran clean
    val expectLog = lines.filter(_.startsWith("#expectlog\t")).map { l =>
      val parts = l.split("\t", -1)
      require(parts.length == 3, s"malformed #expectlog line: $l")
      b64dec(parts(1)) -> parts(2).toLong
    }.toMap
    Manifest(partCols, schema, mapping, txns, dirRows, dirFiles, dvs,
      dirBytes, checks, derived, dirVers, fork, op, idxRefs, keyCols, props,
      expectLog)
  }

  /** Exact, portable text rendering of a min/max value for the manifest —
    * chosen so parse(render(v)) is bit-identical: integral types via
    * toString (exact), Double/Float via java toString (round-trips by
    * spec), Date as epoch-day, Timestamp as epoch-µs, String as-is
    * (base64 at the wire layer handles specials), Decimal via
    * toPlainString. Types outside this set get NO stats (conservative:
    * their files are never skipped). */
  private def renderStat(v: Any): Option[String] = v match {
    case null => None
    case b: Byte => Some(b.toString)
    case s: Short => Some(s.toString)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    // Float renders through its LOSSLESS double widening, NOT Float.toString:
    // the float's shortest repr ("40.05" for 40.04999923...f) parses to a
    // DIFFERENT double under statOrdering's compare-as-double, overstating a
    // file's min by ~half a float ULP — a Double query bound landing in that
    // window would prune a file that holds matching rows (silent wrong
    // results). Double.toString round-trips by spec, so this is exact.
    case f: Float => Some(f.toDouble.toString)
    case d: Double => Some(d.toString)
    case s: String => Some(s)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case t: java.sql.Timestamp =>
      // epoch-µs: getTime is epoch-ms (already includes whole-ms nanos);
      // add only the sub-ms remainder
      Some((t.getTime * 1000L + (t.getNanos / 1000L) % 1000L).toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case t: java.time.Instant =>
      Some((t.getEpochSecond * 1000000L + t.getNano / 1000L).toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.bigDecimal.toPlainString)
    case _ => None
  }

  /** Comparison domain for a rendered stat under its column type; None =
    * unsupported (never skip). Strings compare as unsigned UTF-8 bytes —
    * the same binary order Spark's min/max aggregate uses. */
  private def statOrdering(dt: DataType): Option[(String, String) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        // dates render as epoch-days, timestamps as epoch-µs: long compare
        Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        Some((a, b) => java.lang.Double.compare(a.toDouble, b.toDouble))
      case StringType => Some { (a, b) =>
        val x = a.getBytes(StandardCharsets.UTF_8)
        val y = b.getBytes(StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) {
          c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          i += 1
        }
        if (c != 0) c else java.lang.Integer.compare(x.length, y.length)
      }
      case _: DecimalType => Some((a, b) =>
        new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      case _ => None
    }
  }

  /** Table contents at the current (or, with `asOfVersion`, any still-
    * committed older) version. Each generation is scanned with the
    * version's MANIFEST schema: partition values parse from directory
    * names under their declared types (exact round-trip — the dirs were
    * written from these typed values), and files from generations written
    * before a column existed null-fill it instead of failing the union.
    * Touches only directories the manifest references — orphans from
    * crashed upserts are invisible. Generations are immutable and a
    * version's manifest pins exactly the directories that made it up, so
    * every un-vacuumed version reproduces bit-identically ([[vacuum]]
    * retires versions beyond its `keepVersions` window). */
  def read(spark: SparkSession, root: String,
           asOfVersion: Option[Int] = None): DataFrame =
    readM(spark, root, resolveManifest(spark, root, asOfVersion))

  /** Committed-version resolution + manifest parse shared by [[read]] and
    * [[readWhere]] — private[graft] so VersionedScan.table can resolve it
    * ONCE at relation-build time instead of the optimizer re-reading it on
    * every plan compilation. */
  private[graft] def resolveManifest(spark: SparkSession, root: String,
                                     asOfVersion: Option[Int]): Manifest = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    resolveManifestAt(spark, root, asOfVersion.getOrElse(cur), cur)
  }

  /** [[resolveManifest]] for an ALREADY-RESOLVED version — skips the
    * commit-history listing (one paginated LIST per call on object
    * stores) when the caller just performed it (VersionedScan.plan). */
  private[graft] def resolveManifestAt(spark: SparkSession, root: String,
                                       v: Int, cur: Int): Manifest = {
    val fs = fsFor(spark, root)
    if (!fs.exists(new Path(tableRoot(root), commitName(root, v))))
      throw new java.io.FileNotFoundException(
        s"version $v at $root is not committed (current: $cur, " +
          s"history: ${history(spark, root).mkString(",")})")
    // a partition-less mapping (empty upsert on a fresh table, or a
    // WHERE-less DELETE that cleared every dir) is a VALID 0-row
    // version: the manifest always carries #schema, so scanUnion
    // synthesizes the correctly-typed empty frame and a later upsert
    // repopulates it — no special-casing here
    readManifest(fs, root, v)
  }

  // ----- shared file-skipping core ---------------------------------
  // One selection function drives every pruned read AND its skip probe,
  // so a probe can never diverge from what the read actually scans
  // (hand-kept copies of the keep predicate did diverge once).

  /** A stat usable for pruning: present AND recorded under the column's
    * CURRENT type (see ColStat's type-tag rationale). */
  private def usableStat(fs: FileSystem, root: String, m: Manifest,
                         f: String, column: String,
                         dtJson: String): Option[ColStat] =
    m.statOf(fs, root, f, column).filter(_.dtJson.contains(dtJson))

  /** What a pruned read will scan: whole dirs (no usable index coverage
    * for the column) + surviving indexed files, with the kept/total
    * counts over indexed files that the skip probes report. */
  private[graft] case class ScanSelection(wholeDirs: Seq[(String, String)],
                                          files: Seq[(String, String)],
                                          kept: Int, indexedTotal: Int)

  /** The unpruned selection — every live dir scans whole. Used by plain
    * [[read]] and any path with no usable constraint: it never touches
    * the file index (no block loads, no stat parse), so a full scan's
    * metadata cost is the manifest alone. */
  private def selectAllDirs(root: String, m: Manifest): ScanSelection =
    ScanSelection(
      m.mapping.toSeq.map { case (rel, gen) =>
        gen -> s"${tableRoot(root)}/$gen/$rel" },
      Seq.empty, 0, 0)

  private def selectScan(fs: FileSystem, root: String, m: Manifest,
                         indexed: String => Boolean,
                         keep: String => Boolean): ScanSelection = {
    val wholeDirs = Seq.newBuilder[(String, String)]
    val candidates = Vector.newBuilder[(String, String)]
    m.mapping.toSeq.foreach { case (rel, gen) =>
      val prefix = s"$gen/$rel/"
      // per-dir: this loads ONLY the surviving dirs' index blocks —
      // partition pruning has already filtered m.mapping upstream
      val known = m.idxFilesUnder(fs, root, rel, prefix)
      if (known.isEmpty || !known.exists(indexed))
        wholeDirs += gen -> s"${tableRoot(root)}/$gen/$rel"
      else known.foreach(f => candidates += gen -> f)
    }
    val cand = candidates.result()
    // per-file probes are independent reads over immutable manifest maps
    // and concurrent (TrieMap) sidecar caches. Large candidate sets —
    // a GDPR id-list probing thousands of files' blooms is O(files ×
    // in-range ids) — evaluate in parallel on the driver; order-stable
    // so the selection's file list stays deterministic.
    val keptFlags: Vector[Boolean] =
      if (cand.size < 128) cand.map { case (_, f) => keep(f) }
      else {
        import scala.collection.parallel.CollectionConverters._
        cand.par.map { case (_, f) => keep(f) }.seq
      }
    val files = cand.zip(keptFlags).collect {
      case ((gen, f), true) => gen -> s"${tableRoot(root)}/$f" }
    ScanSelection(wholeDirs.result(), files, files.size, cand.size)
  }

  /** The manifest file key ("genN/<part dirs>/<file>", percent-decoded
    * with the '+' guard) of a scanned row's source file — the SAME
    * derivation [[collectFileStats]] keys stats by, applied to
    * `_metadata.file_path`, so DV keys can never drift from stat keys.
    * `depth` = partCols + 2 (gen + part dirs + file). */
  private def fileKeyCol(depth: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, replace, substring_index, url_decode}
    url_decode(replace(
      substring_index(col("_metadata.file_path"), "/", -depth),
      lit("+"), lit("%2B")))
  }

  /** The deleted (manifest file key, row position) pairs under the given
    * dir prefixes / exact file keys — DV payloads load from the sidecar
    * driver-side, bounded by |deleted rows| of the touched scope (the DV
    * design keeps deletes sidecar-resident by construction). */
  private def dvPairsFor(fs: FileSystem, root: String, m: Manifest,
                         dirPrefixes: Seq[String],
                         files: Set[String] = Set.empty)
      : Seq[(String, Long)] =
    if (m.dvs.isEmpty) Seq.empty
    else m.dvs.keysIterator
      .filter(k => files.contains(k) || dirPrefixes.exists(k.startsWith))
      .flatMap(k => m.dvFor(fs, root, k).get.map(k -> _)).toSeq

  // ----- column mapping (RENAME COLUMN support) ----------------------
  //
  // A renamed column keeps its PHYSICAL (as-written) name forever — the
  // Delta column-mapping idea without IDs: the logical schema field
  // carries `graft.physical` metadata naming what the parquet files
  // actually store, writes keep writing the frozen physical name (so
  // every generation agrees), and scans read the physical schema then
  // alias back to logical. The metadata rides the manifest's StructType
  // JSON through every commit, branch byte-copy, and restore with zero
  // extra protocol. Full-table rewrites (compact / repartitionTable)
  // write CURRENT logical names and strip the mapping — OPTIMIZE
  // materializes renames the same way it materializes DV deletes.

  /** Metadata key on a renamed field: the physical column name in data
    * files. */
  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField)
      : String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def hasRenames(schema: StructType): Boolean =
    schema.exists(_.metadata.contains(PhysicalKey))

  /** logical column -> physical column, renamed fields only. */
  private def renameMap(schema: StructType): Map[String, String] =
    schema.collect {
      case f if f.metadata.contains(PhysicalKey) =>
        f.name -> physicalName(f)
    }.toMap

  /** The schema to hand the parquet READER: field names as files store
    * them. */
  private def physSchema(schema: StructType): StructType =
    if (!hasRenames(schema)) schema
    else StructType(schema.map(f => f.copy(name = physicalName(f))))

  /** Physical-scan frame -> logical names; helper columns added on the
    * scan (__dv_file/__dv_pos) pass through. Must run AFTER any
    * `_metadata` derivation — metadata columns do not survive a
    * projection. */
  private def toLogical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasRenames(schema)) df
    else {
      val physNames = schema.map(physicalName).toSet
      val keep = df.columns.filterNot(physNames.contains)
      df.select((schema.map(f => col(physicalName(f)).as(f.name)) ++
        keep.map(col)).toSeq: _*)
    }

  /** Logical frame -> frozen physical names, applied immediately before
    * writing a generation. */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasRenames(schema)) df
    else df.select(df.columns.map { c =>
      col(c).as(schema.find(_.name == c).map(physicalName).getOrElse(c))
    }.toSeq: _*)

  /** Carry rename AND default metadata from the prior manifest onto a
    * DATAFRAME-derived schema: unionByName/withColumn rebuild fields and
    * drop their metadata — a lost rename mapping would silently
    * null-fill every renamed column on the next read, and a lost
    * default would revert every pre-add row to NULL after one write. */
  private def carryPhysical(s: StructType,
                            prior: Option[Manifest]): StructType = {
    val carried = Seq(PhysicalKey, DefaultKey, DefaultInitKey,
      DefaultPreKey)
    prior match {
      case Some(pm) if pm.schema.exists(f =>
          carried.exists(f.metadata.contains)) =>
        StructType(s.map(f => pm.schema.find(_.name == f.name) match {
          case Some(pf) if carried.exists(pf.metadata.contains) =>
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            carried.foreach(k => if (pf.metadata.contains(k))
              mb.putString(k, pf.metadata.getString(k)))
            f.copy(metadata = mb.build())
          case _ => f
        }))
      case _ => s
    }
  }

  /** Drop the mapping after a full-table rewrite wrote logical names. */
  private def stripPhysical(s: StructType): StructType =
    if (!hasRenames(s)) s
    else StructType(s.map(f =>
      if (!f.metadata.contains(PhysicalKey)) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey).build())))

  /** One leaf dir of a table read: dir `dir` of generation `gen` ("" for
    * a plain parquet table) with its exact partition values (Catalyst
    * internal form, partition-column order), read whole or, when
    * `files` is non-empty, only those files. */
  private[graft] case class ScanLeaf(gen: String, dir: String,
                                     values: Seq[Any],
                                     files: Seq[String] = Nil)

  /** External partition values (as collected) in Catalyst internal form
    * under their column types. */
  private[graft] def catalystValues(vals: Seq[Any],
                                    types: Seq[DataType]): Seq[Any] =
    vals.zip(types).map { case (v, dt) =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(dt)(v) }

  /** THE read of a table's data files: every versioned read
    * ([[scanUnion]], [[scanDirs]], [[dvDelete]], a merge's survivors)
    * and Merge.readTouchedDirs build their frame here. All leaves land
    * in ONE parquet file-source relation whose index takes the leaves'
    * values as its partition spec (ScanBridge): no glob, no exists
    * check, no partition inference, and no value parsed back from a
    * path. Leaves split into separate relations, unioned, only where
    * their generations need different initial defaults. `schema` is the
    * logical table schema (renamed columns read their physical names
    * and alias back; its partition columns come from `partSchema`, not
    * the files); None infers the file schema. Rows in `dv` (manifest
    * file key, row index) are dropped by a broadcast anti-join, keyed
    * per row by [[fileKeyCol]] on the one relation; `keepDvCols` keeps
    * `__dv_file`/`__dv_pos` in the output for the caller. */
  private[graft] def scanLeaves(spark: SparkSession, leaves: Seq[ScanLeaf],
                                partSchema: StructType,
                                schema: Option[StructType],
                                dv: Seq[(String, Long)] = Nil,
                                keepDvCols: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val logical = schema.getOrElse(new StructType())
    val dataSchema = schema.map(s => StructType(physSchema(s)
      .filterNot(f => partSchema.fieldNames.contains(f.name))))
    val dvCols = keepDvCols || dv.nonEmpty
    val depth = partSchema.length + 2 // gen / <part dirs...> / <file>
    val u = leaves.groupBy(l => defaultsDue(logical, l.gen)).toSeq
      .sortBy(_._2.head.gen).map { case (due, ls) =>
        val scan = org.apache.spark.sql.graftbridge.ScanBridge.parquet(spark,
          ls.flatMap(l => if (l.files.isEmpty) Seq(l.dir) else l.files),
          ls.map(l => l.dir -> org.apache.spark.sql.catalyst.InternalRow
            .fromSeq(l.values)), partSchema, dataSchema)
        // `_metadata` resolves only on the relation itself: derive the
        // DV key before any projection
        val tagged =
          if (!dvCols) scan
          else scan.withColumn("__dv_file", fileKeyCol(depth))
            .withColumn("__dv_pos", col("_metadata.row_index"))
        due.foldLeft(toLogical(tagged, logical)) { case (d, (f, sql)) =>
          d.withColumn(f.name,
            org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
        }
      }.reduce(_.unionByName(_))
    if (dv.isEmpty) u
    else {
      val live = u.join(broadcast(dv.toDF("__dv_file", "__dv_pos")),
        Seq("__dv_file", "__dv_pos"), "left_anti")
      if (keepDvCols) live else live.drop("__dv_file", "__dv_pos")
    }
  }

  /** [[scanLeaves]] over a manifest selection: each dir's values parse
    * from its manifest name in the session time zone (the zone the
    * writer rendered it in), and the selection's deletion vectors
    * apply. */
  private def selectionScan(spark: SparkSession, root: String, m: Manifest,
                            sel: ScanSelection,
                            keepDvCols: Boolean = false): DataFrame = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val base = tableRoot(root)
    def leaf(gen: String, dir: String, files: Seq[String]): ScanLeaf = {
      val rel = dir.stripPrefix(s"$base/$gen/")
      ScanLeaf(gen, dir, m.partCols.map(c =>
        partitionDatum(m, rel, c, tz).getOrElse(
          throw new IllegalStateException(s"partition dir '$rel' of " +
            s"$root does not parse as its declared $c type"))), files)
    }
    val leaves =
      sel.wholeDirs.distinct.map { case (gen, d) => leaf(gen, d, Nil) } ++
        sel.files.distinct
          .groupBy { case (gen, f) => (gen, f.substring(0, f.lastIndexOf('/'))) }
          .toSeq.sortBy(_._1).map { case ((gen, d), fs) =>
            leaf(gen, d, fs.map(_._2)) }
    val dv = dvPairsFor(fsFor(spark, root), root, m,
      leaves.filter(_.files.isEmpty).map(_.dir.stripPrefix(base + "/") + "/"),
      leaves.flatMap(_.files).map(_.stripPrefix(base + "/")).toSet)
    scanLeaves(spark, leaves,
      StructType(m.partCols.map(c => m.schema(c).copy(nullable = true))),
      Some(m.schema), dv, keepDvCols)
  }

  /** Materialize a selection WITHOUT a residual filter: one scan under
    * the manifest schema ([[selectionScan]]), deletion vectors applied,
    * columns in schema order. Callers add their own predicate
    * ([[scanFrom]]) or leave the original Filter node in place (the
    * PruneVersionedScan optimizer rule). */
  private[graft] def scanUnion(spark: SparkSession, root: String,
                               m: Manifest, sel: ScanSelection): DataFrame =
    if (sel.wholeDirs.isEmpty && sel.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else selectionScan(spark, root, m, sel)
      .select(m.schema.fieldNames.map(col).toSeq: _*)

  /** Scan of the given (rel dir -> gen) entries under the manifest
    * schema with deletion vectors applied — the DIRECT dir-scan path the
    * maintenance ops ([[deleteWhere]] rewrites, [[compactSmallFiles]])
    * read through; without DV application here a rewrite would
    * RESURRECT merge-on-read-deleted rows. */
  private def scanDirs(spark: SparkSession, root: String, m: Manifest,
                       dirs: Map[String, String]): DataFrame =
    selectionScan(spark, root, m, ScanSelection(dirs.toSeq.map {
      case (rel, gen) => gen -> s"${tableRoot(root)}/$gen/$rel" }, Nil, 0, 0))

  /** Materialize a selection ([[scanUnion]]), residual `predicate`
    * always applied. */
  private def scanFrom(spark: SparkSession, root: String, m: Manifest,
                       sel: ScanSelection,
                       predicate: org.apache.spark.sql.Column): DataFrame =
    scanUnion(spark, root, m, sel).filter(predicate)

  /** One column's extracted constraint for [[readConstrained]] — the
    * conjunction of its defined facets: closed bounds (strict predicates
    * are widened to inclusive — a sound superset), an equality value, an
    * IN-list (`inSet`, null values already dropped — they match no row),
    * a string prefix (`LIKE 'abc%'`), nullness facts (`notNull`
    * skips all-null files; `isNull` skips files whose stats record zero
    * nulls), and exclusions (`notEq`, from `=!=` / NOT IN conjuncts:
    * skips dirs whose partition value IS an excluded value and files
    * provably holding only it). */
  private[graft] case class ColConstraint(column: String,
                                          lower: Option[Any],
                                          upper: Option[Any],
                                          eq: Option[Any],
                                          inSet: Option[Seq[Any]] = None,
                                          prefix: Option[String] = None,
                                          notNull: Boolean = false,
                                          isNull: Boolean = false,
                                          notEq: Seq[Any] = Nil) {
    private[graft] def nonNullFacet: Boolean =
      lower.isDefined || upper.isDefined || eq.isDefined ||
        inSet.isDefined || prefix.isDefined || notNull || notEq.nonEmpty
  }

  /** Pruned UNFILTERED read under a conjunction of per-column
    * constraints — the engine behind the PruneVersionedScan optimizer
    * rule (ordinary .filter syntax gets file skipping with no special
    * read call). A file survives when EVERY constraint keeps it (range
    * via type-tagged min/max, equality additionally via bloom); a dir
    * with no usable index for any constrained column scans whole. The
    * caller keeps its own Filter on top, so soundness only needs keep
    * to be a superset of matching files — unusable stats, open bounds,
    * and unsupported predicate shapes all widen, never narrow. */
  private[graft] def readConstrained(spark: SparkSession, root: String,
                                     constraints: Seq[ColConstraint],
                                     asOfVersion: Option[Int]): DataFrame =
    readConstrainedM(spark, root, resolveManifest(spark, root, asOfVersion),
      constraints)

  /** [[read]] against an already-resolved manifest — lets the optimizer
    * rule reuse the manifest pinned at relation-build time instead of
    * re-reading it per plan compilation. */
  private[graft] def readM(spark: SparkSession, root: String,
                           m: Manifest): DataFrame =
    scanUnion(spark, root, m, selectAllDirs(root, m))

  /** [[readConstrained]] against an already-resolved manifest. Constraints
    * on PARTITION columns prune the directory list exactly (the dir name IS
    * the value — no file stats consulted); constraints on data columns
    * prune files via type-tagged min/max, blooms (equality and IN), byte-
    * prefix overlap (LIKE 'abc%'), and null-count facts. */
  private[graft] def readConstrainedM(spark: SparkSession, root: String,
                                      m0: Manifest,
                                      constraints: Seq[ColConstraint])
      : DataFrame = {
    val (m, sel) = constrainedSelection(spark, root, m0, constraints)
    scanUnion(spark, root, m, sel)
  }

  /** The (partition-pruned manifest, file selection) a constraint set
    * resolves to — the ONE place index facts become a [[ScanSelection]].
    * The optimizer rule's scans ([[readConstrainedM]]), the shape reads
    * and skip probes ([[readWhere]], [[readWhereEq]], [[skipStats]]) and
    * every DML call ([[deleteWhere]], [[deleteWhereIn]], [[updateWhere]],
    * [[deleteMatching]], ...) pass their predicate as [[ColConstraint]]s
    * here, so partition, derived-partition, stats and bloom pruning reach
    * each of them alike. A selection names its dirs, so a caller may scan
    * or rewrite it against the unpruned manifest. */
  private[graft] def constrainedSelection(spark: SparkSession, root: String,
                                          m0: Manifest,
                                          constraints: Seq[ColConstraint])
      : (Manifest, ScanSelection) = {
    val known = constraints.filter(c => m0.schema.fieldNames.contains(c.column))
    // derived partitioning: a fact about a transform's SOURCE column
    // implies a fact about the partition column — hidden partitioning's
    // query half (the predicate names only the natural column)
    val implied = m0.derived.toSeq.flatMap { case (p, (kind, src)) =>
      known.filter(_.column == src)
        .flatMap(impliedPartConstraint(m0, p, kind, src, _)) }
    val usable = known ++ implied
    if (usable.isEmpty)
      return (m0, selectAllDirs(root, m0))
    // partition-column constraints filter the manifest's directory list
    // BEFORE any file stats are consulted — partition pruning proper
    val (partCs, dataCs) = usable.partition(c => m0.partCols.contains(c.column))
    val m =
      if (partCs.isEmpty) m0
      else {
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val keeps = partCs.map(dirKeep(m0, _, tz))
        m0.withMapping(m0.mapping.filter { case (rel, _) =>
          keeps.forall(_(rel)) })
      }
    if (dataCs.isEmpty)
      return (m, selectAllDirs(root, m))
    val fs = fsFor(spark, root)
    def perCol(c: ColConstraint): (String => Boolean, String => Boolean) = {
      val dt = m.schema(c.column).dataType
      val dtJson = dt.json
      val cmp = statOrdering(dt)
      val loR = c.eq.orElse(c.lower).flatMap(renderStat)
      val hiR = c.eq.orElse(c.upper).flatMap(renderStat)
      val rKeep: String => Boolean = f =>
        usableStat(fs, root, m, f, c.column, dtJson) match {
          case None => true
          case Some(s) => (s.min, s.max) match {
            case (Some(mn), Some(mx)) => cmp match {
              case Some(o) =>
                // an absent rendering (open bound / unrenderable) keeps
                hiR.forall(h => o(mn, h) <= 0) &&
                  loR.forall(l => o(mx, l) >= 0)
              case None => true
            }
            // all-null file: no non-null-matching facet can match NULL
            // (this is also what makes a bare IsNotNull prune). Only
            // provable when the type is renderable (cmp defined) — for
            // unrenderable stat types (Boolean, Binary, complex) min/max
            // record None for every file regardless of contents, so the
            // file must be kept.
            case _ => cmp.isEmpty || !c.nonNullFacet
          }
        }
      val bKeep: String => Boolean = c.eq match {
        case Some(v) if v != null =>
          bloomKeep(fs, root, m, c.column, xxh64Of(v, dt))
        case _ => _ => true
      }
      val iKeep: String => Boolean = c.inSet match {
        case Some(vs) => inKeep(fs, root, m, c.column, dt, vs)
        case None => _ => true
      }
      val pKeep: String => Boolean = c.prefix match {
        case Some(p) if dt == org.apache.spark.sql.types.StringType =>
          prefixKeep(fs, root, m, c.column, dtJson, p)
        case _ => _ => true
      }
      // IS NULL: a file whose stats record zero nulls cannot hold a match
      val nKeep: String => Boolean =
        if (!c.isNull) _ => true
        else f => usableStat(fs, root, m, f, c.column, dtJson).forall(_.nulls > 0)
      // NOT-equal (a =!= v conjunct): a file is provably clear only when
      // it holds EXCLUSIVELY that value — min == max == v and zero nulls
      // (a null row makes the conjunct NULL, a non-match, but its file
      // may still hold other rows; min==max alone says nothing about
      // nulls). Unrenderable exclusion values simply cannot skip.
      val neKeep: String => Boolean = {
        val neR = c.notEq.flatMap(renderStat)
        if (neR.isEmpty) _ => true
        else f => usableStat(fs, root, m, f, c.column, dtJson) match {
          case Some(s) => (s.min, s.max, cmp) match {
            case (Some(mn), Some(mx), Some(o)) =>
              !(s.nulls == 0L &&
                neR.exists(e => o(mn, e) == 0 && o(mx, e) == 0))
            case _ => true
          }
          case None => true
        }
      }
      val idx: String => Boolean = f =>
        usableStat(fs, root, m, f, c.column, dtJson).isDefined ||
          ((c.eq.isDefined || c.inSet.isDefined) &&
            m.bloomColsOf(fs, root, f).contains(c.column))
      (f => rKeep(f) && bKeep(f) && iKeep(f) && pKeep(f) && nKeep(f) &&
        neKeep(f), idx)
    }
    val per = dataCs.map(perCol)
    (m, selectScan(fs, root, m,
      indexed = f => per.exists(_._2(f)),
      keep = f => per.forall(_._1(f))))
  }

  /** Byte-wise prefix overlap for string stats: a file may hold a string
    * starting with `p` iff max >= p and min's first |p| bytes are <= p
    * (UTF-8 unsigned order — the same binary order the stats compare in).
    * All-null files never match. */
  private def prefixKeep(fs: FileSystem, root: String, m: Manifest,
                         column: String, dtJson: String,
                         p: String): String => Boolean = {
    val pb = p.getBytes(StandardCharsets.UTF_8)
    def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0; var c = 0
      while (i < n && c == 0) {
        c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff); i += 1 }
      if (c != 0) c else java.lang.Integer.compare(a.length, b.length)
    }
    f => usableStat(fs, root, m, f, column, dtJson) match {
      case None => true
      case Some(s) => (s.min, s.max) match {
        case (Some(mn), Some(mx)) =>
          val mnb = mn.getBytes(StandardCharsets.UTF_8)
          val mnT = if (mnb.length > pb.length)
            java.util.Arrays.copyOf(mnb, pb.length) else mnb
          cmpBytes(mx.getBytes(StandardCharsets.UTF_8), pb) >= 0 &&
            cmpBytes(mnT, pb) <= 0
        case _ => false
      }
    }
  }

  /** IN-list keep: a file survives when ANY candidate value survives BOTH
    * its point-range probe and its bloom probe — a disjunction of point
    * lookups (an empty list keeps none — `IN ()` matches no row; NULL
    * candidates are dropped upstream, they match no row either).
    * GDPR-batch-sized: candidates sort once by the stat order and each
    * file binary-searches its [min,max] candidate subrange — O(log V +
    * in-range) per file, not O(V) — and the file's bloom deserializes
    * ONCE for all its probes. */
  private def inKeep(fs: FileSystem, root: String, m: Manifest,
                     column: String, dt: DataType,
                     values: Seq[Any]): String => Boolean = {
    val dtJson = dt.json
    val cmpOpt = statOrdering(dt)
    val all = values.map(v => (renderStat(v), xxh64Of(v, dt)))
    val sorted: Array[(String, Option[Long])] = cmpOpt match {
      case Some(c) => all.collect { case (Some(r), h) => (r, h) }
        .sortWith((a, b) => c(a._1, b._1) < 0).toArray
      case None => Array.empty
    }
    // candidates the range index cannot place (no rendering, or no stat
    // ordering for the type): only blooms can rule them out
    val unplaced: Seq[Option[Long]] = cmpOpt match {
      case Some(_) => all.collect { case (None, h) => h }
      case None => all.map(_._2)
    }
    def bound(x: String, c: (String, String) => Int,
              strict: Boolean): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val d = c(sorted(mid)._1, x)
        if (d < 0 || (strict && d == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }
    f => {
      lazy val bloom = m.bloomFor(fs, root, f, column).map(bytes =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes)))
      def may(h: Option[Long]): Boolean =
        bloom.forall(b => h.forall(b.mightContainLong))
      usableStat(fs, root, m, f, column, dtJson) match {
        case Some(s) => (s.min, s.max, cmpOpt) match {
          case (Some(mn), Some(mx), Some(c)) =>
            val lo = bound(mn, c, strict = false) // first candidate >= min
            val hi = bound(mx, c, strict = true)  // first candidate >  max
            (lo until hi).exists(i => may(sorted(i)._2)) ||
              unplaced.exists(may)
          // all-null: equality matches none. Sound ONLY when the type is
          // orderable/renderable (Some(_)): for types renderStat cannot
          // render (Boolean, Binary, complex), min/max record None for
          // EVERY file regardless of contents — those fall through to
          // the blooms-only case below, never to a skip.
          case (None, None, Some(_)) => false
          case _ => // stats present but unusable for ranging: blooms only
            sorted.exists(e => may(e._2)) || unplaced.exists(may)
        }
        case None =>
          sorted.exists(e => may(e._2)) || unplaced.exists(may)
      }
    }
  }

  private val hiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The value of partition column `column` encoded in mapping key
    * `rel`, in Catalyst internal form: Right(v) = concrete value,
    * Right(null) = the null partition, Left(()) = unparseable under the
    * declared type. Parsing mirrors Spark's schema'd partition
    * discovery: unescape the path segment, TRY-cast the string to the
    * declared type in `tz` — the session zone, which the writer
    * rendered timestamps in. */
  private def partitionDatum(m: Manifest, rel: String, column: String,
                             tz: String): Either[Unit, Any] = {
    val idx = m.partCols.indexOf(column)
    val segs = rel.split("/")
    if (idx < 0 || segs.length != m.partCols.length) return Left(())
    val seg = segs(idx)
    if (!seg.startsWith(column + "=")) return Left(())
    val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(seg.substring(column.length + 1))
    if (raw == hiveDefaultPartition) return Right(null)
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal => CLit}
      val internal = Cast(
        CLit(org.apache.spark.unsafe.types.UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        m.schema(column).dataType, Some(tz), EvalMode.TRY).eval(null)
      if (internal == null) Left(()) else Right(internal)
    } catch { case scala.util.control.NonFatal(_) => Left(()) }
  }

  /** [[partitionDatum]] as an external Scala value: Right(Some(v)) =
    * concrete value, Right(None) = the null partition, Left(()) =
    * unparseable — callers must keep the dir (conservative). */
  private def partitionValue(m: Manifest, rel: String, column: String,
                             tz: String): Either[Unit, Option[Any]] =
    partitionDatum(m, rel, column, tz).map(v => Option(v).map(
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(m.schema(column).dataType)))

  /** Exact keep decision for a partition DIRECTORY under a partition-
    * column constraint (the dir name is the value, so unlike file stats
    * this is equality/range on the value itself, not an overlap test).
    * Unparseable or unrenderable values keep; the null partition survives
    * only an isNull-compatible constraint. */
  private def dirKeep(m: Manifest, c: ColConstraint,
                      tz: String): String => Boolean = {
    val dt = m.schema(c.column).dataType
    val cmp = statOrdering(dt)
    val loR = c.lower.flatMap(renderStat)
    val hiR = c.upper.flatMap(renderStat)
    val eqR = c.eq.flatMap(renderStat)
    // all-or-nothing: one unrenderable IN value disables the facet (a dir
    // holding exactly that value must survive)
    val inR: Option[Seq[String]] = c.inSet.flatMap { vs =>
      val r = vs.map(renderStat)
      if (r.exists(_.isEmpty)) None else Some(r.flatten)
    }
    // per-value: an unrenderable =!= value just can't exclude its dir
    val neR: Seq[String] = c.notEq.flatMap(renderStat)
    rel => partitionValue(m, rel, c.column, tz) match {
      case Left(_) => true
      case Right(None) => !c.nonNullFacet
      case Right(Some(v)) =>
        if (c.isNull) false
        else (renderStat(v), cmp) match {
          case (Some(rv), Some(o)) =>
            loR.forall(l => o(rv, l) >= 0) &&
              hiR.forall(h => o(rv, h) <= 0) &&
              eqR.forall(e => o(rv, e) == 0) &&
              inR.forall(vs => vs.exists(e => o(rv, e) == 0)) &&
              // the dir's value IS an excluded value: a =!= v false
              // for every row in it — the conjunction matches nothing
              neR.forall(e => o(rv, e) != 0) &&
              c.prefix.forall(p => v match {
                case s: String => s.startsWith(p)
                case _ => true
              })
          case _ => true
        }
    }
  }

  /** Data files listed by a frame's PHYSICAL scan nodes — what the
    * plan-pin tests and in-query guards count to prove pruning reached
    * the executed plan, in one place so the guards cannot diverge. */
  private[graft] def physicalInputFiles(df: DataFrame): Int = {
    // AQE wraps joined plans in AdaptiveSparkPlanExec, a LEAF whose
    // children plan.collect cannot see — recurse into the adaptive
    // subplan or every scan-count guard on a joined frame is vacuous
    // (always 0)
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          count(a.executedPlan)
      }.sum
    count(df.queryExecution.executedPlan)
  }

  /** Bloom-keep decision for an equality facet of [[constrainedSelection]]
    * (an IN-list probes its blooms through [[inKeep]]). */
  private def bloomKeep(fs: FileSystem, root: String, m: Manifest,
                        column: String, hash: Option[Long])
      : String => Boolean = f =>
    m.bloomFor(fs, root, f, column).forall { bytes =>
      hash.forall(h => org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(h))
    }

  /** Range read with manifest-level FILE SKIPPING: rows of the table where
    * `column` lies in [lower, upper] (inclusive, typed like the column),
    * scanning only the data files whose recorded min/max range overlaps
    * the predicate — the sub-partition half of scan pruning that makes a
    * needle query on a 100 TB table touch megabytes (the same mechanism
    * as Delta/Iceberg data skipping; partition-dir pruning covers the
    * partition columns, this covers the CLUSTERED data columns). Files
    * whose stats say only-nulls are skipped (a range predicate never
    * matches NULL); files or generations without a stat recorded under
    * the column's CURRENT type are scanned — pruning is strictly an
    * optimization, and the residual filter applies regardless, so results
    * equal read().filter(...) even with absent, evolved-type, or partial
    * stats. */
  def readWhere(spark: SparkSession, root: String, column: String,
                lower: Any, upper: Any,
                asOfVersion: Option[Int] = None): DataFrame =
    readWhereIn(spark, root, column, Seq((lower, upper)), asOfVersion)

  /** Multi-range generalization of [[readWhere]]: rows where `column`
    * lies in ANY of the closed `ranges`, with files skipped when their
    * recorded min/max misses EVERY range. This is the read shape
    * z-order box queries decompose into (ZOrder.zIntervalsForBox): a
    * 2-D box becomes a handful of z-intervals, each tight against the
    * z-clustered layout — one wide interval would prune nothing when
    * the box straddles a high-order quad boundary. Ranges are OR-ed in
    * the residual filter, so results equal read().filter(any-range)
    * with or without stats coverage. */
  def readWhereIn(spark: SparkSession, root: String, column: String,
                  ranges: Seq[(Any, Any)],
                  asOfVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(ranges.nonEmpty, "at least one range")
    val m = resolveManifest(spark, root, asOfVersion)
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    val predicate = ranges.map { case (lo, hi) =>
      col(column) >= lit(lo) && col(column) <= lit(hi) }.reduce(_ || _)
    // the OR scans the union of the per-range selections (no probe reads
    // its counts); a dir scans whole or by files alike under every range
    // — index coverage depends on the column, not the bounds — so no
    // file scans twice
    val sels = ranges.map { case (lo, hi) =>
      constrainedSelection(spark, root, m,
        Seq(ColConstraint(column, Some(lo), Some(hi), None)))._2 }
    scanFrom(spark, root, m, ScanSelection(sels.flatMap(_.wholeDirs).distinct,
      sels.flatMap(_.files).distinct, 0, 0), predicate)
  }

  /** Driver-side twin of the xxhash64(col) the bloom was built over: the
    * same Catalyst expression evaluated on the same internal
    * representation, so executor and driver hash identically by
    * construction. Returns None when the value has no Catalyst literal
    * form (never skip). */
  private def xxh64Of(value: Any, dt: DataType): Option[Long] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      Some(new XxHash64(Seq(Literal.create(value, dt)))
        .eval(null).asInstanceOf[Long])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Point-lookup read with manifest-level file skipping on BOTH index
    * kinds: rows where `column` = `value`, scanning only files whose
    * min/max range covers the value AND whose Bloom filter (when
    * recorded via `bloomCols`) might contain it. Min/max needs the
    * column CLUSTERED to bite; the Bloom bites on UNCLUSTERED
    * high-cardinality columns — a needle id lookup in a corpus lake —
    * at ~10 bits/row of manifest per file per column, with false
    * positives costing only an extra scanned file (no false negatives:
    * Spark's own split-block bloom, probed by the identical xxhash64
    * expression driver-side). Files without either index scan normally
    * and the residual filter always applies, so the result equals
    * read().filter(col === value) regardless of index coverage. */
  def readWhereEq(spark: SparkSession, root: String, column: String,
                  value: Any,
                  asOfVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val m = resolveManifest(spark, root, asOfVersion)
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    if (value == null)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    scanFrom(spark, root, m, constrainedSelection(spark, root, m,
      Seq(ColConstraint(column, None, None, Some(value))))._2,
      col(column) === lit(value))
  }

  /** [[readWhereEq]]'s skip observability, derived from the SAME
    * selection the read scans: (indexed files kept, indexed files
    * total). */
  private[graft] def skipStatsEq(spark: SparkSession, root: String,
                                 column: String, value: Any,
                                 asOfVersion: Option[Int] = None): (Int, Int) = {
    val (_, sel) = constrainedSelection(spark, root,
      resolveManifest(spark, root, asOfVersion),
      Seq(ColConstraint(column, None, None, Some(value))))
    (sel.kept, sel.indexedTotal)
  }

  /** [[readWhere]]'s skip observability, derived from the SAME selection
    * the read scans — the observable for tests and ops dashboards ("did
    * skipping bite?"): (indexed files kept, indexed files total). A
    * column no file indexes (a partition column, or one without stats)
    * reports (0, 0). */
  private[graft] def skipStats(spark: SparkSession, root: String,
                               column: String, lower: Any, upper: Any,
                               asOfVersion: Option[Int] = None): (Int, Int) = {
    val (_, sel) = constrainedSelection(spark, root,
      resolveManifest(spark, root, asOfVersion),
      Seq(ColConstraint(column, Some(lower), Some(upper), None)))
    (sel.kept, sel.indexedTotal)
  }

  /** Walk the nested `c1=v1/c2=v2/...` leaf dirs a partitioned write
    * produced under `base`. */
  private def leafDirs(fs: FileSystem, base: Path,
                       partCols: Seq[String]): Seq[String] = {
    def walk(p: Path, rel: Vector[String], depth: Int): Seq[String] =
      if (depth == partCols.length) Seq(rel.mkString("/"))
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(partCols(depth) + "="))
        .flatMap(s => walk(s.getPath, rel :+ s.getPath.getName, depth + 1))
    walk(base, Vector.empty, 0)
  }

  /** A fresh generation's file index: per-file stats, per-file bloom
    * refs, and per-dir row, file and byte counts. */
  private type FreshIndex = (Map[String, Map[String, ColStat]],
    Map[String, Map[String, (String, Long, Int)]],
    Map[String, Long], Map[String, Long], Map[String, Long])

  /** Per-file min/max/null-count for `statsCols`, per-file Bloom filters
    * for `bloomCols` (payloads written to the version's `_bloomx`
    * sidecar, refs returned), and per-dir row/file/byte counts over the
    * data files just written into version `version`'s generation dir.
    *
    * Fast path (no Spark job at all): the parquet FOOTERS the write just
    * produced already carry per-row-group min/max/null-count and row
    * counts — decode those instead of re-scanning the data (the same
    * design as Delta/Iceberg stats collection). A small commit's stats
    * become a driver-side footer loop; a large commit's fan out as ONE
    * shuffle-free job over the file list. Falls back to the original
    * read-back aggregation ([[collectFileStatsScan]]) when a Bloom index
    * is requested (blooms need the data), when footers are undecodable
    * for a requested orderable column (INT96 timestamps from a session
    * writing the legacy type — set
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`, as graft's
    * own sessions do), or when a float/double chunk holds NaN or a
    * signed-zero bound.
    *
    * `schema` is the LOGICAL schema the files were written under —
    * exactly what the read-back path would infer, so the recorded
    * `dtJson` and rendered values are identical either way. */
  private def collectFileStats(spark: SparkSession, root: String,
                               version: Int, partCols: Seq[String],
                               statsCols: Seq[String],
                               bloomCols: Seq[String] = Nil,
                               bloomBits: Long = 8192L,
                               colmap: Map[String, String] = Map.empty,
                               schema: StructType = null): FreshIndex = {
    val genDir = genName(root, version)
    val bloomsWanted = schema != null &&
      bloomCols.exists(c => schema.fieldNames.contains(c))
    val viaFooters =
      if (schema == null || bloomsWanted) None
      else footerFileStats(spark, root, genDir, partCols, statsCols,
        colmap, schema)
    viaFooters match {
      case Some((stats, dirRows, dirFiles, dirBytes)) =>
        (stats, Map.empty, dirRows, dirFiles, dirBytes)
      case None =>
        val (stats, blooms, dirRows, dirFiles, dirBytes) =
          collectFileStatsScan(spark, root, genDir, partCols, statsCols,
            bloomCols, bloomBits, colmap)
        (stats, writeBloomSidecar(fsFor(spark, root), root, version, blooms),
          dirRows, dirFiles, dirBytes)
    }
  }

  /** Write fresh bloom payloads into version `v`'s ONE `_bloomx`
    * sidecar object and return their refs (sidecar, offset, length) —
    * the index blocks record refs, never payloads. */
  private def writeBloomSidecar(fs: FileSystem, root: String, v: Int,
                                blooms: Map[String, Map[String, Array[Byte]]])
      : Map[String, Map[String, (String, Long, Int)]] =
    if (blooms.isEmpty) Map.empty
    else {
      val name = bloomSidecar(root, v)
      val out = fs.create(new Path(tableRoot(root), name), false)
      try {
        var off = 0L
        blooms.toSeq.sortBy(_._1).map { case (f, cols) =>
          f -> cols.toSeq.sortBy(_._1).map { case (c, b) =>
            out.write(b)
            val ref = c -> ((name, off, b.length))
            off += b.length
            ref
          }.toMap
        }.toMap
      } finally out.close()
    }

  /** The read-back implementation of [[collectFileStats]]: ONE
    * delta-sized aggregation grouped by `_metadata.file_path` (the files
    * were written moments ago — page-cache hot; at 100 TB this is
    * O(|delta|), amortized noise next to the write itself). File keys
    * render relative to root ("genN/<part dirs>/<file>"),
    * percent-decoded to the raw on-disk names with the same '+' guard as
    * [[fileKeyCol]]. Columns absent from this generation's schema
    * or with no exact rendering get no entry (their files are never
    * skipped — conservative). */
  private[graft] def collectFileStatsScan(spark: SparkSession, root: String,
                                          genDir: String,
                                          partCols: Seq[String],
                                          statsCols: Seq[String],
                                          bloomCols: Seq[String] = Nil,
                                          bloomBits: Long = 8192L,
                                          colmap: Map[String, String] =
                                            Map.empty)
      : (Map[String, Map[String, ColStat]],
         Map[String, Map[String, Array[Byte]]],
         Map[String, Long], Map[String, Long], Map[String, Long]) = {
    import org.apache.spark.sql.functions._
    val depth = partCols.length + 2 // gen / <part dirs...> / <file>
    val df = spark.read.parquet(s"${tableRoot(root)}/$genDir")
    // the raw read-back sees PHYSICAL names; probe those but record the
    // index under LOGICAL names — every manifest structure and pruning
    // probe stays rename-agnostic
    def phys(c: String): String = colmap.getOrElse(c, c)
    val present = statsCols.filter(c => df.columns.contains(phys(c)))
    val presentBloom = bloomCols.filter(c => df.columns.contains(phys(c)))
    val statAggs = present.flatMap { c => Seq(
      min(col(phys(c))).as(s"__min_$c"), max(col(phys(c))).as(s"__max_$c"),
      count(when(col(phys(c)).isNull, 1)).as(s"__nulls_$c")) }
    // split-block bloom over xxhash64(col) per file — Spark's own
    // BloomFilterAggregate (the InjectRuntimeFilter machinery), here as a
    // grouped aggregate; ~bloomBits/8 bytes per file per column in the
    // manifest, false positives only cost an extra scanned file
    val bloomAggs = presentBloom.map { c =>
      import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              xxhash64(col(phys(c)))),
            CLit(bloomBits / 8), CLit(bloomBits))
          .toAggregateExpression()).as(s"__bloom_$c")
    }
    // the row count always rides along: it is the metadata-only COUNT(*)
    // index (fastCount) and costs nothing extra when stats/blooms already
    // scan; with NO index columns it is the one aggregation this scan
    // exists for — O(|written generation|) either way
    val aggs = statAggs ++ bloomAggs :+ count(lit(1)).as("__rows") :+
      first(col("_metadata.file_size")).as("__bytes")
    val rows = df
      .withColumn("__file", url_decode(replace(
        substring_index(col("_metadata.file_path"), "/", -depth),
        lit("+"), lit("%2B"))))
      .groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .collect()
    val stats =
      if (present.isEmpty) Map.empty[String, Map[String, ColStat]]
      else rows.map { r =>
        r.getAs[String]("__file") -> present.map { c =>
          c -> ColStat(renderStat(r.getAs[Any](s"__min_$c")),
            renderStat(r.getAs[Any](s"__max_$c")),
            r.getAs[Long](s"__nulls_$c"),
            Some(df.schema(phys(c)).dataType.json))
        }.toMap
      }.toMap
    val blooms = rows.map { r =>
      r.getAs[String]("__file") -> presentBloom.flatMap { c =>
        Option(r.getAs[Array[Byte]](s"__bloom_$c")).map(c -> _)
      }.toMap
    }.filter(_._2.nonEmpty).toMap
    // dir key = the file key minus the "gen<N>/" prefix and the file
    // component — exactly the manifest's mapping key for the partition
    val perDir = rows.map { r =>
      val f = r.getAs[String]("__file")
      (f.substring(f.indexOf('/') + 1, f.lastIndexOf('/')),
        r.getAs[Long]("__rows"), r.getAs[Long]("__bytes"))
    }.groupBy(_._1)
    val dirRows = perDir.map { case (d, xs) => d -> xs.map(_._2).sum }
    val dirFiles = perDir.map { case (d, xs) => d -> xs.size.toLong }
    val dirBytes = perDir.map { case (d, xs) => d -> xs.map(_._3).sum }
    (stats, blooms, dirRows, dirFiles, dirBytes)
  }

  /** Footer-based stats for the fresh generation `genDir`: list its data
    * files, decode each parquet footer's per-row-group statistics, and
    * assemble the same (stats, dirRows, dirFiles, dirBytes) the read-back
    * scan would. None => caller must fall back to the scan (a requested
    * orderable column is stored as INT96).
    *
    * ≤64 files decode in a driver loop (zero jobs — the lifecycle-commit
    * case); larger generations decode in one shuffle-free distributed
    * job. File keys are the RAW on-disk relative names straight from the
    * listing — the same keys the scan path reconstructs by percent-
    * decoding `_metadata.file_path`. */
  private def footerFileStats(spark: SparkSession, root: String,
                              genDir: String, partCols: Seq[String],
                              statsCols: Seq[String],
                              colmap: Map[String, String],
                              schema: StructType)
      : Option[(Map[String, Map[String, ColStat]],
         Map[String, Long], Map[String, Long], Map[String, Long])] = {
    val fs = fsFor(spark, root)
    val base = new Path(s"${tableRoot(root)}/$genDir")
    def phys(c: String): String = colmap.getOrElse(c, c)
    val present = statsCols.filter(c => schema.fieldNames.contains(c))
    // decode plan per PHYSICAL column name: how the footer's raw values
    // render into the manifest's portable stat strings (mirrors
    // renderStat case-for-case; unsupported types record nulls only)
    val kinds: Map[String, String] =
      present.map(c => phys(c) -> footerKindOf(schema(c).dataType)).toMap
    def hidden(n: String) = n.startsWith(".") || n.startsWith("_")
    val files: Seq[(String, String, Long)] =
      leafDirs(fs, base, partCols).flatMap { rel =>
        val dir = if (rel.isEmpty) base else new Path(s"$base/$rel")
        fs.listStatus(dir).toSeq
          .filter(s => s.isFile && !hidden(s.getPath.getName))
          .map { s =>
            val key = if (rel.isEmpty) s"$genDir/${s.getPath.getName}"
              else s"$genDir/$rel/${s.getPath.getName}"
            (key, s.getPath.toString, s.getLen)
          }
      }
    if (files.isEmpty)
      return Some((Map.empty, Map.empty, Map.empty, Map.empty))
    val byPath = files.map { case (k, p, len) => p -> (k, len) }.toMap
    val decoded: Seq[(String, (Long,
        Map[String, Option[(Option[String], Option[String], Long)]],
        Boolean))] =
      if (files.size <= 64) {
        val conf = spark.sessionState.newHadoopConf()
        files.map { case (_, p, _) => p -> decodeFooterStats(conf, p, kinds) }
      } else {
        val paths = files.map(_._2)
        org.apache.spark.sql.graftbridge.HadoopBridge
          .mapFiles(spark, paths,
            math.min(paths.size, spark.sparkContext.defaultParallelism)) {
            (conf, p) => p -> decodeFooterStats(conf, p, kinds) }
      }
    // any file where an orderable wanted column couldn't be decoded
    // (INT96 timestamps, NaN-suppressed float/double bounds, missing
    // statistics): the SCAN path can stat those, so re-scan the
    // generation rather than record anything weaker than the scan would
    if (decoded.exists(_._2._3)) return None
    val backToLogical = kinds.keys.map(p => p ->
      present.find(c => phys(c) == p).get).toMap
    val perFile = decoded.map { case (p, (rows, cols, _)) =>
      val (key, len) = byPath(p)
      val entry = cols.flatMap { case (pname, res) =>
        res.map { case (mn, mx, nulls) =>
          val logical = backToLogical(pname)
          logical -> ColStat(mn, mx, nulls,
            Some(schema(logical).dataType.json))
        }
      }
      (key, rows, len, entry)
    }
    // like the scan path: no stats columns => no stats entries at all;
    // an unusable column simply has no per-file entry (never skipped)
    val statsMap =
      if (present.isEmpty) Map.empty[String, Map[String, ColStat]]
      else perFile.map { case (key, _, _, entry) => key -> entry }.toMap
    // dvKeyRel, not a raw substring: a bare "gen/<file>" key (the
    // unpartitioned layout the manifest format permits) must yield
    // rel "", not an out-of-bounds crash
    val perDir = perFile.map { case (f, rows, bytes, _) =>
      (dvKeyRel(f), rows, bytes)
    }.groupBy(_._1)
    Some((statsMap,
      perDir.map { case (d, xs) => d -> xs.map(_._2).sum },
      perDir.map { case (d, xs) => d -> xs.size.toLong },
      perDir.map { case (d, xs) => d -> xs.map(_._3).sum }))
  }

  /** How a Spark column type's footer statistics render — keyed the same
    * way [[renderStat]]/[[statOrdering]] are: orderable primitives get
    * min/max, everything else records null counts only ("nullsonly" —
    * exactly what the scan path produces when renderStat returns None). */
  private def footerKindOf(dt: DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case DateType => "date"
      case TimestampType => "ts"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case _: DecimalType => "decimal"
      case _ => "nullsonly"
    }
  }

  /** [[statOrdering]] keyed by footer kind — DELEGATES to it through a
    * representative DataType per kind, so per-file bounds always combine
    * under exactly the order pruning later compares them with (a
    * hand-copied comparator here would be a silent-drift risk). */
  private def footerCmp(kind: String): (String, String) => Int = {
    import org.apache.spark.sql.types._
    val dt = kind match {
      case "int" | "long" | "date" | "ts" => LongType
      case "float" | "double" => DoubleType
      case "string" => StringType
      case _ => DecimalType(38, 18)
    }
    statOrdering(dt).get
  }

  /** Render ONE footer min/max value for `kind`, verifying the parquet
    * primitive/logical type actually matches what the kind expects —
    * any mismatch renders None (the column's entry is dropped for the
    * file: never skipped, never wrong). Value renderings are chosen to
    * be bit-identical with [[renderStat]] on the scan path: epoch-day
    * ints for dates, epoch-µs longs for timestamps (micros natively,
    * millis ×1000), floats through their lossless double widening,
    * decimals via unscaled×scale toPlainString, strings as UTF-8. */
  private def renderFooterVal(kind: String,
                              pt: org.apache.parquet.schema.PrimitiveType,
                              v: Any): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    kind match {
      case "int" | "long" | "date" => v match {
        case n: java.lang.Integer => Some(n.toString)
        case n: java.lang.Long if kind == "long" => Some(n.toString)
        case _ => None
      }
      case "ts" => pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          v match {
            case n: java.lang.Long => t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(n.toString)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some((n.longValue * 1000L).toString)
              case _ => None // NANOS: not a Spark TimestampType layout
            }
            case _ => None
          }
        case _ => None
      }
      case "float" => v match {
        // lossless double widening — the same path renderStat takes (see
        // its Float case for why the shortest float repr is NOT safe)
        case f: java.lang.Float => Some(f.doubleValue.toString)
        case _ => None
      }
      case "double" => v match {
        case d: java.lang.Double => Some(d.toString)
        case _ => None
      }
      case "string" => (pt.getLogicalTypeAnnotation, v) match {
        case (_: LogicalTypeAnnotation.StringLogicalTypeAnnotation,
              b: org.apache.parquet.io.api.Binary) =>
          Some(b.toStringUsingUTF8)
        case _ => None
      }
      case "decimal" => pt.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          val s = d.getScale
          v match {
            case n: java.lang.Integer =>
              Some(java.math.BigDecimal.valueOf(n.longValue, s).toPlainString)
            case n: java.lang.Long =>
              Some(java.math.BigDecimal.valueOf(n.longValue, s).toPlainString)
            case b: org.apache.parquet.io.api.Binary =>
              Some(new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), s).toPlainString)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** Decode one parquet footer into per-column rendered stats.
    * Returns (rowCount, per-physical-column result, sawInt96ForWanted).
    * Per column: None = record NO entry (conservative — the file is
    * never skipped); Some((min, max, nulls)) with min=max=None meaning
    * PROVABLY only-null (safe to range-skip, the same contract the scan
    * path's rendered aggregate satisfies).
    *
    * Usability rules per column, over all row groups: every chunk must
    * carry statistics with the null count set; a chunk without non-null
    * values must be provably all-null (numNulls == valueCount — a chunk
    * with values but suppressed min/max drops the column instead of
    * mislabeling the file only-null, which range pruning would skip).
    *
    * An ORDERABLE column that ends up with no usable bounds for a file
    * that provably holds values sets `needScan` instead of recording a
    * weaker entry — the caller falls back to the read-back scan for the
    * WHOLE generation, so footer-collected stats are value-identical
    * with scan-collected ones, never merely "conservative". The two
    * known triggers: INT96 timestamps (legacy session conf — no usable
    * footer stats by design) and float/double chunks that saw a NaN
    * (parquet-mr omits their min/max from the footer, while Spark's
    * aggregate records max=NaN; the metadata min/max fold REQUIRES that
    * exact value, so absence must re-scan, not degrade —
    * fastMinMax/PropertySpec pin this). ±0.0 normalization and
    * long-binary truncation only ever widen bounds. A final min<=max
    * sanity check routes anything pathological to the scan too.
    * Serializable closure-safe: called on executors by the distributed
    * leg. */
  private[graft] def decodeFooterStats(
      conf: org.apache.hadoop.conf.Configuration, path: String,
      kinds: Map[String, String])
      : (Long, Map[String, Option[(Option[String], Option[String], Long)]],
         Boolean) = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val meta = ParquetFileReader.readFooter(conf, new Path(path),
      ParquetMetadataConverter.NO_FILTER)
    val blocks = meta.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    var needScan = false
    val cols = kinds.map { case (name, kind) =>
      val chunks = blocks.flatMap(_.getColumns.asScala.find { cc =>
        val p = cc.getPath.toArray
        p.length == 1 && p(0) == name
      })
      val res: Option[(Option[String], Option[String], Long)] =
        if (chunks.length != blocks.length) None
        else {
          val sts = chunks.map(cc =>
            (cc.getStatistics, cc.getValueCount, cc.getPrimitiveType))
          if (chunks.exists(_.getPrimitiveType.getPrimitiveTypeName ==
              PrimitiveTypeName.INT96)) None
          else if (sts.exists { case (st, _, _) =>
              st == null || !st.isNumNullsSet }) None
          else if (!sts.filter { case (st, _, _) => !st.hasNonNullValue }
              .forall { case (st, vc, _) => st.getNumNulls == vc }) None
          else {
            val nulls = sts.map(_._1.getNumNulls).sum
            val withVals = sts.filter(_._1.hasNonNullValue)
            if (withVals.isEmpty) Some((None, None, nulls))
            else if (kind == "nullsonly") Some((None, None, nulls))
            else {
              val rendered = withVals.map { case (st, _, pt) =>
                (renderFooterVal(kind, pt, st.genericGetMin),
                  renderFooterVal(kind, pt, st.genericGetMax))
              }
              if (rendered.exists(r => r._1.isEmpty || r._2.isEmpty)) None
              else {
                val cmp = footerCmp(kind)
                val mn = rendered.map(_._1.get).reduce((a, b) =>
                  if (cmp(a, b) <= 0) a else b)
                val mx = rendered.map(_._2.get).reduce((a, b) =>
                  if (cmp(a, b) >= 0) a else b)
                // ±0.0 tie ambiguity (float/double): parquet records the
                // TOTAL-ORDER bound (min -0.0 when any -0.0 exists, max
                // +0.0 over mixed zeros) while Spark's aggregate is
                // content/order-dependent on zero ties — measured: min
                // over {0.0,-0.0,1.0} = +0.0 from the scan, -0.0 from
                // the footer. The metadata fold serves these values as
                // ANSWERS, so an ambiguous bound must re-scan:
                // min == -0.0 proves a -0.0 exists (min ambiguous), and
                // max == +0.0 with a negative min cannot rule one out
                // (max ambiguous). min >= +0.0 proves -0.0 absent.
                val zeroTie = (kind == "float" || kind == "double") && (
                  mn == "-0.0" ||
                  (mx == "0.0" &&
                    java.lang.Double.compare(mn.toDouble, 0.0d) < 0))
                if (cmp(mn, mx) > 0 || zeroTie) None
                else Some((Some(mn), Some(mx), nulls))
              }
            }
          }
        }
      // an orderable column the scan path COULD stat but the footer
      // cannot: the whole generation must re-scan (exact-parity rule
      // in the scaladoc)
      if (res.isEmpty && kind != "nullsonly") needScan = true
      name -> res
    }
    (rows, cols, needScan)
  }

  /** Bloom sizing: 0 = auto — ~10 bits per expected row (≈1% false-
    * positive rate, the standard trade) when `fileRows` bounds the file,
    * else 64 Ki bits (8 KB — right for the multi-thousand-row files this
    * engine writes; at production 128 MB/1M-row files blooms belong in
    * sidecar objects referenced by the manifest, same protocol). An
    * UNDERSIZED bloom silently stops skipping — at 4 bits/row the
    * false-positive rate is ~20% and a unique needle keeps a third of
    * the files (measured in VersionedScaleProbe before this sizing). */
  private def sizedBloomBits(bloomBits: Long, fileRows: Option[Int]): Long =
    if (bloomBits > 0) bloomBits
    else fileRows.fold(65536L)(r => math.max(8192L, r.toLong * 10))

  /** Write `rows` as generation `genDir` of version `version` and index
    * it — the one data-file write of every commit that rewrites
    * partitions (merge/overwrite, DML rewrites, compaction, repartition).
    * One writer per partition (see Merge.upsertParquetPruned note);
    * within it rows cluster on the interleaved z-value of `zOrderCols`
    * when given, else on `statsCols`, so each data file covers a TIGHT
    * value range — that's what makes min/max file skipping bite
    * (liquid-clustering-lite); `fileRows` splits hot partitions into
    * several skippable files instead of one wide one. Ties break on the
    * table's merge `keys` (every orderable column when it records none),
    * so one input writes its rows in the same order on every run, not
    * in shuffle-fetch order. `schema` is the logical schema: renamed
    * columns write their FROZEN physical names so every generation
    * agrees on file layout. Returns the written leaf dirs and their
    * fresh file index (empty when nothing was written — there is no
    * file to infer a schema from). */
  private def writeGeneration(fs: FileSystem, sparkW: SparkSession,
                              root: String, version: Int, genDir: String,
                              rows: DataFrame, partCols: Seq[String],
                              keys: Seq[String],
                              schema: StructType, statsCols: Seq[String],
                              bloomCols: Seq[String], bloomBits: Long,
                              fileRows: Option[Int],
                              zOrderCols: Seq[String] = Nil)
      : (Seq[String], FreshIndex) = {
    val base = rows.repartition(partCols.map(col): _*)
    val ties = {
      val k = keys.filter(rows.columns.contains)
      if (k.nonEmpty) k
      else rows.schema.collect { case f if org.apache.spark.sql.catalyst
          .expressions.RowOrdering.isOrderable(f.dataType) => f.name }
    }.filterNot(partCols.contains)
    val clustered =
      if (zOrderCols.nonEmpty)
        ZOrder.withZValueN(base, zOrderCols, "__zval")
          .sortWithinPartitions(
            (partCols.map(col) ++ (col("__zval") +: ties.map(col))): _*)
          .drop("__zval")
      else base.sortWithinPartitions(
        (partCols ++ statsCols ++ ties).distinct.map(col): _*)
    val writer = fileRows.foldLeft(
      org.apache.spark.sql.graftbridge.SessionBridge.rebind(sparkW,
        toPhysical(clustered, schema)).write)(
      (w, n) => w.option("maxRecordsPerFile", n.toLong))
    writer.partitionBy(partCols: _*).parquet(s"${tableRoot(root)}/$genDir")
    val written = leafDirs(fs, new Path(s"${tableRoot(root)}/$genDir"),
      partCols)
    val fresh =
      if (written.isEmpty)
        (Map.empty, Map.empty, Map.empty, Map.empty, Map.empty): FreshIndex
      else collectFileStats(sparkW, root, version, partCols, statsCols,
        bloomCols, sizedBloomBits(bloomBits, fileRows),
        colmap = renameMap(schema), schema = schema)
    (written, fresh)
  }

  /** The manifest of a commit that rewrote some of `prior`'s dirs into
    * `newMapping`: the written dirs' fresh index plus, for every dir the
    * commit left alone, what `prior` recorded. A prior dir's counts and
    * index ref survive iff its mapping entry is untouched (rewritten
    * dirs get fresh counts); a prior file's DVs survive iff its
    * (generation, partition dir) is still what the new mapping points at
    * — replaced partitions drop their old files' DVs with them. Checks,
    * derived registrations and properties carry verbatim; the caller
    * decides the watermarks and each dir's content token. */
  private def stageRewrite(prior: Option[Manifest], partCols: Seq[String],
                           schema: StructType,
                           newMapping: Map[String, String],
                           fresh: FreshIndex, txns: Map[String, Long],
                           dirVers: Map[String, String]): Staged = {
    val (stats, blooms, freshRows, freshFiles, freshBytes) = fresh
    val priorMapping = prior.fold(Map.empty[String, String])(_.mapping)
    def carried[A](of: Manifest => Map[String, A]): Map[String, A] =
      prior.fold(Map.empty[String, A])(of)
    def untouchedDirs[A](of: Manifest => Map[String, A]): Map[String, A] =
      carried(of).filter { case (rel, _) =>
        priorMapping.contains(rel) &&
          newMapping.get(rel) == priorMapping.get(rel) }
    val liveDirPrefixes = newMapping.map { case (rel, gen) =>
      s"$gen/$rel/" }.toSet
    Staged(partCols, schema, newMapping, stats, blooms, txns,
      // DVs key on "<gen>/<part dirs>/<file>"
      dvRefs = carried(_.dvs).filter { case (fileRel, _) =>
        val dirOf = fileRel.lastIndexOf('/')
        dirOf > 0 && liveDirPrefixes.contains(fileRel.substring(0, dirOf + 1))
      },
      checks = carried(_.checks),
      dirRows = untouchedDirs(_.dirRows) ++ freshRows,
      dirFiles = untouchedDirs(_.dirFiles) ++ freshFiles,
      dirBytes = untouchedDirs(_.dirBytes) ++ freshBytes,
      derived = carried(_.derived), dirVers = dirVers,
      idxRefs = untouchedDirs(_.idxRefs), props = carried(_.props))
  }

  /** What a [[stageVersion]] `stage` callback hands back for the
    * manifest. */
  private case class Staged(partCols: Seq[String], schema: StructType,
                            mapping: Map[String, String],
                            // the file index written into THIS version's
                            // _idx blocks: per-file stats and bloom refs
                            // (sidecar, offset, length) — fresh ones
                            // point into `_bloomx.<next>`, re-emitted
                            // ones (column DDL, a schema-changing
                            // fast-forward) into older sidecars
                            stats: Map[String, Map[String, ColStat]] =
                              Map.empty,
                            blooms: Map[String,
                              Map[String, (String, Long, Int)]] = Map.empty,
                            txns: Map[String, Long] = Map.empty,
                            dvBytes: Map[String, Array[Byte]] = Map.empty,
                            dvRefs: Map[String,
                              (String, Long, Int, Long)] = Map.empty,
                            checks: Map[String, String] = Map.empty,
                            // no defaults: EVERY staging site must decide
                            // these carries — a mapped dir without its
                            // counts and token cannot be staged; silently
                            // dropping a derived registration loses
                            // invariants; a stale content token makes a
                            // feed MISS changes; a dropped index ref
                            // silently un-indexes a dir
                            dirRows: Map[String, Long],
                            dirFiles: Map[String, Long],
                            dirBytes: Map[String, Long],
                            derived: Map[String, (String, String)],
                            dirVers: Map[String, String],
                            // carried per-dir index-block refs (rel ->
                            // slice into an OLDER _idx sidecar); a dir
                            // with fresh `stats`/`blooms` gets a new block
                            idxRefs: Map[String, IdxRef],
                            // table properties: carried verbatim like
                            // checks — no default, a forgotten carry
                            // silently drops governance
                            props: Map[String, String])

  /** A metadata-only commit of `m`: mapping, per-dir counts and tokens,
    * index refs, deletion vectors, watermarks and registries all carried
    * verbatim — callers `copy` in the one piece they change. */
  private def carryAll(m: Manifest): Staged =
    Staged(m.partCols, m.schema, m.mapping, txns = m.txns, dvRefs = m.dvs,
      checks = m.checks, dirRows = m.dirRows, dirFiles = m.dirFiles,
      dirBytes = m.dirBytes, derived = m.derived, dirVers = m.dirVers,
      idxRefs = m.idxRefs, props = m.props)

  /** A file index with the columns `drop` selects removed — what column
    * DDL re-emits (files left with no entry drop out). */
  private def withoutCols[A](idx: Map[String, Map[String, A]],
                             drop: String => Boolean)
      : Map[String, Map[String, A]] =
    idx.map { case (f, cs) => f -> cs.filter { case (c, _) => !drop(c) } }
      .filter(_._2.nonEmpty)

  /** The first per-dir line a mapped dir lacks — the reader refuses such
    * a manifest, so [[stageVersion]] refuses to stage one. */
  private def missingDirLine(mapping: Map[String, String],
                             dirRows: Map[String, Long],
                             dirFiles: Map[String, Long],
                             dirBytes: Map[String, Long],
                             dirVers: Map[String, String]): Option[String] =
    Seq("#dirrows" -> dirRows.keySet, "#dirfiles" -> dirFiles.keySet,
        "#dirbytes" -> dirBytes.keySet, "#dirver" -> dirVers.keySet)
      .iterator.flatMap { case (tag, covered) =>
        mapping.keys.find(rel => !covered.contains(rel))
          .map(rel => s"no $tag line for mapped dir '$rel'")
      }.nextOption()

  /** The `_bloomx` sidecar holding version `v`'s fresh bloom payloads. */
  private def bloomSidecar(root: String, v: Int): String =
    s"_bloomx.${brNs(root)}$v"

  /** Recorded data bytes of the given live dirs — the size hint the
    * static-vs-AQE gate reads for rewrites, served from the manifest. */
  private def dirsBytes(m: Manifest, rels: Iterator[String]): BigInt =
    rels.map(r => BigInt(m.dirBytes(r))).sum

  /** Optimizer size estimate up to which [[commitSession]] plans a
    * commit (or a [[smallQuery]]) statically. */
  private val StaticMaxBytes: BigInt = BigInt(256L * 1024 * 1024)

  /** Shuffle partitions of the static clone. */
  private val StaticShufflePartitions = 8

  /** The static clone's conf overrides. */
  private val StaticOverrides = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> StaticShufflePartitions.toString,
    // limit(n).collect() on a SMALL plan: executeTake's partition ramp
    // (1, then xscaleUpFactor, ...) costs 3 jobs to scan what one wave
    // covers — the engine's capped driver probes (changed-id lists,
    // uniqueness checks) usually read everything anyway, so scan all
    // partitions in the first job
    "spark.sql.limit.initialNumPartitions" -> "10000")

  /** The session a staged commit's write-side queries should EXECUTE
    * under. When the staged input's OPTIMIZER SIZE ESTIMATE is at most
    * [[StaticMaxBytes]] (256 MB), plan the stage's queries with adaptive
    * execution OFF and [[StaticShufflePartitions]] (8) shuffle
    * partitions. A small commit's write is then ONE statically planned
    * job instead of 5-7 AQE stage-materialization jobs — the
    * CommitCostProbe-measured fixed cost that priced every lifecycle
    * commit ~1s regardless of data. Misestimates are benign in both
    * directions: an overestimate keeps AQE (costs jobs, not
    * correctness), an underestimate statically plans a big write — the
    * classic pre-AQE plan. An unknown estimate keeps AQE.
    *
    * AQE's planner rule reads `sessionState.conf` directly, so the
    * override needs a SESSION, not a thread-local: a clone (shared
    * SparkContext, its own conf) that plans built on the caller's
    * session re-bind onto at their terminal action
    * (SessionBridge.rebind). */
  private def commitSession(spark: SparkSession,
                            sizeHint: => Option[BigInt]): SparkSession =
    if (!scala.util.Try(sizeHint).toOption.flatten
          .exists(_ <= StaticMaxBytes)) spark
    else {
      // cached clones, not one per commit: every cloneSession registers
      // an execution-listener bus on the shared SparkContext for the
      // life of the app. Keyed by the parent's CURRENT conf, so
      // session-level settings like the parquet timestamp type (set,
      // changed or unset) always reach the write, and a clone's conf
      // never changes after creation.
      val key = spark.conf.getAll -- StaticOverrides.keys
      commitClones.synchronized {
        Option(commitClones.get(key)).getOrElse {
          val c = org.apache.spark.sql.graftbridge.SessionBridge
            .cloneWithConf(spark, StaticOverrides)
          commitClones.put(key, c)
          c
        }
      }
    }

  /** Size-gated STATIC execution for engine-side small queries — the
    * read/maintenance twin of [[commitSession]]. The lifecycle
    * operators (dedup/ANN index refresh + probes, matview refreshes,
    * expectation probes) run many small multi-shuffle actions; with
    * adaptive execution on, EVERY exchange materializes as its own
    * Spark job, so a 3-shuffle probe over kilobytes pays 4 scheduling
    * round-trips (QueryCostProbe: q_dedup_index's warm rep = 48 jobs
    * whose summed wall is ~65% of the query's — the rest is the gaps
    * between them). When the plan's OPTIMIZER SIZE ESTIMATE is at most
    * [[StaticMaxBytes]] (the commit path's gate and clone — one policy,
    * one cached session), re-bind the frame onto the AQE-off clone so
    * its terminal action plans statically as ONE job. Size-adaptive,
    * not a local-mode tune: a change-sized refresh probe at 100 TB is
    * still small, and anything estimated big (or inestimable —
    * ExistingRDD/checkpoint scans report unknown) keeps AQE. Results
    * are unaffected: the clone shares the SparkContext, catalog, and
    * cache manager; only planning differs. */
  private[graft] def smallQuery(df: DataFrame): DataFrame =
    smallQuery(df, Some(BigInt(0)))

  /** [[smallQuery]] with EXTRA bytes added to the gate: for probe-sized
    * frames whose DOWNSTREAM derivations will join corpus/index tables
    * the probe plan's own leaves cannot see (the derived frames inherit
    * this frame's session, so gating the probe alone would pin a huge
    * index scan onto the 8-partition static clone). Callers pass the
    * tables' recorded manifest bytes ([[recordedBytes]]); None = unknown
    * = conservative, AQE stays. */
  private[graft] def smallQuery(df: DataFrame,
                                extraBytes: Option[BigInt]): DataFrame =
    // already static (e.g. a frame built ON the clone by a nested
    // operator): re-cloning the clone would leak sessions for nothing
    if (df.sparkSession.conf.get("spark.sql.adaptive.enabled",
        "true") == "false") df
    else {
      val hint = for { own <- leafBytesHint(df); ex <- extraBytes }
        yield own + ex
      org.apache.spark.sql.graftbridge.SessionBridge.rebind(
        commitSession(df.sparkSession, hint), df)
    }

  /** Sum of the CURRENT version's recorded per-dir bytes for a
    * versioned table — the real stored size, served from the manifest
    * with no Spark job. None when the table has no committed version (or
    * its manifest cannot be read): conservative for the [[smallQuery]]
    * gate. */
  private[graft] def recordedBytes(spark: SparkSession,
                                   root: String): Option[BigInt] =
    scala.util.Try {
      currentVersion(spark, root).map { v =>
        val m = readManifest(fsFor(spark, root), root, v)
        dirsBytes(m, m.mapping.keysIterator)
      }
    }.toOption.flatten

  /** Size hint for the static-vs-AQE gate: the SUM OF LEAF estimates —
    * the bytes the plan can actually read — not the propagated plan
    * estimate. Size-only estimation multiplies through joins, so a
    * kilobyte probe (or a join-shaped commit delta) that joins two
    * small scans "estimates" terabytes and would never take the static
    * path (measured: the dedup-index feed probe at 27 GB propagated vs
    * 381 KB of leaf bytes). Leaves with no real estimate
    * (checkpoint/RDD scans report defaultSizeInBytes) poison the sum
    * upward — conservative, keeps AQE. */
  private def leafBytesHint(df: DataFrame): Option[BigInt] =
    scala.util.Try(
      df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum).toOption

  /** Static clones [[commitClones]] holds at most. */
  private val CommitClonesMax = 8

  /** See [[commitSession]]: the static clones, keyed by their parent's
    * conf minus [[StaticOverrides]], least recently used first out.
    * Sessions with equal conf — a stream restarted per round, a
    * `newSession()` per request — share one clone. Not keyed by session:
    * Spark keeps every session that has run a query reachable, so a
    * per-session key would hold one clone per parent for the life of
    * the app. */
  private val commitClones =
    new java.util.LinkedHashMap[Map[String, String], SparkSession](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          Map[String, String], SparkSession]): Boolean =
        size > CommitClonesMax
    }

  /** Number of cached static clones. */
  private[graft] def commitCloneCount: Int =
    commitClones.synchronized(commitClones.size)

  /** The claim → stage → manifest protocol shared by [[prepare]] and
    * [[compact]]: claim `_manifest.<next>` create-exclusive (the
    * concurrency guard — of two racing writers exactly one wins), run
    * `stage` (which writes `$root/gen<next>` and returns the manifest's
    * partCols/schema/mapping/file index), then fill in the v3 manifest.
    * On ANY failure the claim AND the half-staged generation dir are
    * retracted — only the claim owner may do this — so an immediate retry
    * starts clean instead of tripping over its own leftovers ('path
    * already exists' on the gen dir was exactly that bug). */
  private def stageVersion(fs: FileSystem, root: String, next: Int,
                           op: String, keys: Seq[String],
                           // by-name: the expectation gate runs INSIDE
                           // `stage`, so the log is read after it
                           expectLog: => Map[String, Long] = Map.empty)
      (stage: String => Staged): Int = {
    val genDir = genName(root, next)
    val manifestPath = new Path(tableRoot(root), manifestName(root, next))
    if (fs.exists(manifestPath))
      throw new StagingRaceException(
        s"version $next at $root is already staged: concurrent writer, or " +
          "a crashed prepare (vacuum() clears unpublished stages)")
    val out =
      try createExclusive(fs, manifestPath)
      catch { case e: java.io.IOException =>
        throw new StagingRaceException(
          s"lost the staging race for version $next at $root", e) }
    try {
      val st = stage(genDir)
      missingDirLine(st.mapping, st.dirRows, st.dirFiles, st.dirBytes,
        st.dirVers).foreach(detail => throw new IllegalStateException(
          s"refusing to stage version $next at $root: $detail"))
      val b64 = (s: String) => java.util.Base64.getEncoder
        .encodeToString(s.getBytes(StandardCharsets.UTF_8))
      val opt = (o: Option[String]) => o.fold("-")(b64)
      // the fork point rides along on every BRANCH commit automatically
      // (read from the prior manifest, not threaded through Staged) so
      // fastForward's merge anchor survives any number of branch writes
      val forkLine =
        (if (brNs(root).nonEmpty && next > 0)
          // NOT failure-tolerant on purpose: silently dropping the
          // anchor would permanently break fastForward for the branch;
          // a read failure aborts the stage (claim retracts) instead
          readManifest(fs, root, next - 1).fork
        else None).fold("") { case (src, v) =>
          s"#fork\t${if (src.isEmpty) "-" else b64(src)}\t$v\n" }
      // per-commit expectation gate counts (round 10): one line per
      // gated expectation, including zero counts (they record "the gate
      // ran clean" — absence means the commit had no gate)
      val expectLines = expectLog.toSeq.sortBy(_._1).map { case (n, c) =>
        s"#expectlog\t${b64(n)}\t$c\n" }.mkString
      val header = s"#graft-manifest\t3\n" +
        s"#partcols\t${st.partCols.mkString("\t")}\n" +
        s"#schema\t${st.schema.json}\n" + forkLine +
        s"#op\t${b64(op)}\n" + expectLines +
        (if (keys.isEmpty) ""
         else s"#keys\t${keys.mkString("\t")}\n")
      // this version's file-level index (the stats and bloom refs riding
      // Staged) is written as per-dir text blocks in ONE `_idx.<next>`
      // sidecar; the manifest gets one #diridx slice ref per dir, so its
      // own size is O(partitions) regardless of file count, and a
      // partition-pruned read fetches only the surviving dirs' blocks
      val relOfKey = (f: String) =>
        f.substring(f.indexOf('/') + 1, f.lastIndexOf('/'))
      val idxSidecarName = s"_idx.${brNs(root)}$next"
      val statByDir = st.stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, s) => relOfKey(f) ->
          s"#filestat\t${b64(f)}\t${b64(c)}\t${opt(s.min)}\t${opt(s.max)}\t${s.nulls}\t${opt(s.dtJson)}\n"
        }
      }.groupMap(_._1)(_._2)
      val bloomByDir = st.blooms.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, (sc, off, len)) =>
          relOfKey(f) -> s"#filebloomref\t${b64(f)}\t${b64(c)}\t$sc\t$off\t$len\n"
        }
      }.groupMap(_._1)(_._2)
      val freshIdxDirs = (statByDir.keySet ++ bloomByDir.keySet).toSeq.sorted
      // covered column names per fresh dir ride the ref (and then the
      // #diridx line), so coverage inference never opens the sidecar
      def colsByDir[A](x: Map[String, Map[String, A]]) =
        x.toSeq.groupBy(kv => relOfKey(kv._1)).map { case (rel, kvs) =>
          rel -> kvs.flatMap(_._2.keys).distinct.sorted }
      val statColsByDir = colsByDir(st.stats)
      val bloomColsByDir = colsByDir(st.blooms)
      val freshIdxRefs: Seq[(String, IdxRef)] =
        if (freshIdxDirs.isEmpty) Seq.empty
        else {
          val sc = fs.create(new Path(tableRoot(root), idxSidecarName), false)
          try {
            var off = 0L
            freshIdxDirs.map { rel =>
              val block = (statByDir.getOrElse(rel, Seq.empty) ++
                bloomByDir.getOrElse(rel, Seq.empty)).mkString
              val bytes = block.getBytes(StandardCharsets.UTF_8)
              sc.write(bytes)
              val ref = rel -> IdxRef(idxSidecarName, off, bytes.length,
                statColsByDir.getOrElse(rel, Seq.empty),
                bloomColsByDir.getOrElse(rel, Seq.empty))
              off += bytes.length
              ref
            }
          } finally sc.close()
        }
      // a dir with fresh index content supersedes any carried ref
      val idxLines = ((st.idxRefs -- freshIdxDirs) ++ freshIdxRefs)
        .toSeq.sortBy(_._1).map { case (rel, r) =>
          s"#diridx\t${b64(rel)}\t${r.sidecar}\t${r.off}\t${r.len}\t" +
            s"${b64(r.statCols.mkString("\t"))}\t" +
            s"${b64(r.bloomCols.mkString("\t"))}\n" }.mkString
      // fresh deletion vectors land in a `_dvx.<next>` sidecar the same
      // way; carried refs to older DV sidecars pass through verbatim
      val dvSidecarName = s"_dvx.${brNs(root)}$next"
      val freshDvRefs: Seq[(String, (String, Long, Int, Long))] =
        if (st.dvBytes.isEmpty) Seq.empty
        else {
          val sc = fs.create(new Path(tableRoot(root), dvSidecarName), false)
          try {
            var off = 0L
            st.dvBytes.toSeq.sortBy(_._1).map { case (f, b) =>
              sc.write(b)
              // the leading varint of the payload IS the position count
              val count = readVarint(b, 0)._1
              val ref = f -> ((dvSidecarName, off, b.length, count))
              off += b.length
              ref
            }
          } finally sc.close()
        }
      val dvLines = (st.dvRefs.toSeq ++ freshDvRefs).sortBy(_._1).map {
        case (f, (sc, off, len, count)) =>
          s"#filedv\t${b64(f)}\t$sc\t$off\t$len\t$count\n"
      }.mkString
      val txnLine = st.txns.toSeq.sortBy(_._1).map { case (sid, bid) =>
        s"#txn\t${b64(sid)}\t$bid\n" }.mkString +
        st.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
          s"#constraint\t${b64(n)}\t${b64(sql)}\n" }.mkString +
        st.derived.toSeq.sortBy(_._1).map { case (p, (kind, src)) =>
          s"#derivedpart\t${b64(p)}\t${b64(kind)}\t${b64(src)}\n" }.mkString +
        st.props.toSeq.sortBy(_._1).map { case (k, v) =>
          s"#prop\t${b64(k)}\t${b64(v)}\n" }.mkString
      val dirRowLines = st.dirRows.toSeq.sortBy(_._1).map { case (rel, n) =>
        s"#dirrows\t${b64(rel)}\t$n\n" }.mkString +
        st.dirFiles.toSeq.sortBy(_._1).map { case (rel, n) =>
          s"#dirfiles\t${b64(rel)}\t$n\n" }.mkString +
        st.dirBytes.toSeq.sortBy(_._1).map { case (rel, n) =>
          s"#dirbytes\t${b64(rel)}\t$n\n" }.mkString +
        st.dirVers.toSeq.sortBy(_._1).map { case (rel, g) =>
          s"#dirver\t${b64(rel)}\t$g\n" }.mkString
      val body = st.mapping.toSeq.sorted.map { case (p, g) => s"$p\t$g" }
        .mkString("", "\n", "\n")
      out.write((header + txnLine + dirRowLines + idxLines +
        dvLines + body).getBytes(StandardCharsets.UTF_8))
      out.close()
      next
    } catch { case t: Throwable =>
      try out.close() catch { case _: Throwable => () }
      // retract the LITTER first, the CLAIM last: the manifest claim is
      // the mutual-exclusion token — dropping it while gen<next> still
      // exists lets a racing writer claim this version and collide with
      // our half-deleted generation dir
      fs.delete(new Path(tableRoot(root), genDir), true)
      fs.delete(new Path(tableRoot(root), bloomSidecar(root, next)), false)
      fs.delete(new Path(tableRoot(root), s"_dvx.${brNs(root)}$next"), false)
      fs.delete(new Path(tableRoot(root), s"_idx.${brNs(root)}$next"), false)
      fs.delete(manifestPath, false)
      throw t
    }
  }

  /** One commit attempt's view of the table: the current version, read
    * once when the attempt starts, and its manifest, read at most once
    * and only if the op asks for it. [[commitLoop]] makes one per
    * attempt; [[prepare]] makes one for its single stage. */
  private final class Attempt(spark: SparkSession, val root: String) {
    val fs: FileSystem = fsFor(spark, root)
    /** The current version, if the table has one. */
    val version: Option[Int] = currentVersion(spark, root)
    /** The version a lost claim waits past (-1: none yet). */
    def basedOn: Int = version.getOrElse(-1)
    /** The version this attempt stages. */
    def next: Int = basedOn + 1
    /** The current manifest, if the table has one. */
    lazy val prior: Option[Manifest] = version.map(readManifest(fs, root, _))
    /** The current version of a table the op needs to exist. */
    def cur: Int = version.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    /** The current manifest of a table the op needs to exist. */
    def m: Manifest = { cur; prior.get }
    /** Stage [[next]] through [[stageVersion]], without publishing. */
    def stage(op: String, keys: Seq[String],
              expectLog: => Map[String, Long] = Map.empty)
        (body: String => Staged): Int =
      stageVersion(fs, root, next, op, keys, expectLog)(body)
    /** Publish staged version `v` and return it. */
    def publish(v: Int): Int = { VersionedTable.publish(spark, root, v); v }
    /** [[stage]], then [[publish]]: the commit of every op but
      * [[prepare]]. */
    def commit(op: String, keys: Seq[String],
               expectLog: => Map[String, Long] = Map.empty)
        (body: String => Staged): Int =
      publish(stage(op, keys, expectLog)(body))
  }

  /** What a lost claim on `_manifest.<next>` means to the op that lost
    * it. Every op that commits through [[commitLoop]] names one. */
  private sealed trait ClaimRace

  /** Declarative ops (DML, maintenance, DDL, restore, fast-forward)
    * derive everything from the current version: wait for the winner's
    * commit and re-run against it — the rerun IS the serialized
    * result. */
  private case object Rederive extends ClaimRace

  /** Merges writing the partition dirs `dirs` yields. By-name: it is a
    * Spark job over the delta, run only after a lost claim. A merge may
    * retry on top of the winner only when every interleaved version
    * touched none of those dirs — its survivors anti-join then ran
    * against partitions nobody changed. */
  private final class Disjoint(dirs: => Set[String]) extends ClaimRace {
    def written: Set[String] = dirs
  }

  /** Ops whose footprint is the whole table (overwrite, TRUNCATE,
    * REPLACE TABLE): any interleaved commit conflicts, so a lost claim
    * is a loud [[ConcurrentWriteConflictException]]. `what` names the op
    * in it ("TRUNCATE empties"). */
  private final case class WholeTable(what: String) extends ClaimRace

  /** Claim attempts one commit makes before a lost claim rethrows. */
  private val MaxClaimAttempts = 5

  /** The one commit routine: run `body` on a fresh [[Attempt]] until it
    * returns, resolving each lost claim (a [[StagingRaceException]]) by
    * `race`. The body validates, scans the current table if it must,
    * then commits through [[Attempt.commit]] — or returns the current
    * version for a provable no-op. A claim that never publishes (a
    * crashed writer) rethrows after `graft.versioned.claimWaitMs`
    * (default 30 s); vacuum clears it. */
  private def commitLoop(spark: SparkSession, root: String, race: ClaimRace)
                        (body: Attempt => Int): Int = {
    var attempt = 1
    while (true) {
      val at = new Attempt(spark, root)
      try return body(at)
      catch {
        case e: StagingRaceException =>
          if (attempt >= MaxClaimAttempts) throw e
          attempt += 1
          race match {
            case WholeTable(what) =>
              throw new ConcurrentWriteConflictException(
                s"concurrent write conflict at $root: $what the entire " +
                  "table and cannot serialize around a concurrent commit " +
                  "— re-run against the new current version")
            case _ =>
          }
          // the loser can only restage once the winner's version is
          // COMMITTED (next = max committed + 1 would re-collide with the
          // same staged manifest otherwise)
          val newCur = awaitCommitAfter(spark, root, at.basedOn)
            .getOrElse(throw e) // staged but never published
          race match {
            case d: Disjoint =>
              val mine = d.written
              ((at.basedOn + 1) to newCur).foreach { v =>
                touchedDirs(at.fs, root, v) match {
                  case Some(dirs) if dirs.intersect(mine).isEmpty => ()
                  case _ => throw new ConcurrentWriteConflictException(
                    s"concurrent write conflict at $root: version $v " +
                      "touched partitions this merge also writes (or its " +
                      "footprint is unverifiable after vacuum/layout " +
                      "change) — re-run the merge against the new current " +
                      "version")
                }
              }
            case _ =>
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Row cap of [[prepare]]'s delta probe (Merge.deltaProbe): past it
    * the commit falls back to the separate entries job. */
  private val DeltaProbeMaxRows = 4096

  /** Probed key tuples up to which [[prepare]]'s survivors anti-join
    * inlines the key set as one array_contains filter. */
  private val InlineKeysMax = 1024

  /** Cap on touched-dir rows × inlined key tuples: the inline filter's
    * per-row linear scan must stay cheaper than the join it replaces. */
  private val InlineCmpBudget = 100000000L

  /** Stage version `current+1`: claim its manifest (the concurrency
    * guard), write merged data for TOUCHED partitions into a fresh
    * generation dir (none for an empty delta that keeps the schema),
    * then fill in the manifest — everything except the commit marker.
    * Returns the staged version number. Split from [[publish]] so the
    * crash-injection test can stop between the two steps; production
    * callers use [[upsert]]. */
  private[graft] def prepare(spark: SparkSession, root: String,
                             updates: DataFrame, keys: Seq[String],
                             partCols: Seq[String],
                             statsCols: Seq[String] = Nil,
                             fileRows: Option[Int] = None,
                             bloomCols: Seq[String] = Nil,
                             bloomBits: Long = 0L,
                             txn: Option[(String, Long)] = None,
                             replaceAll: Boolean = false,
                             extraTxns: Seq[(String, Long)] = Nil): Int =
    stageMerge(spark, new Attempt(spark, root), updates, keys, partCols,
      statsCols, fileRows, bloomCols, bloomBits, txn, replaceAll, extraTxns)

  /** [[prepare]] on the attempt `at`: stages `at.next` and returns it. */
  private def stageMerge(spark: SparkSession, at: Attempt,
                         updates: DataFrame, keys: Seq[String],
                         partCols: Seq[String], statsCols: Seq[String],
                         fileRows: Option[Int], bloomCols: Seq[String],
                         bloomBits: Long, txn: Option[(String, Long)],
                         replaceAll: Boolean,
                         extraTxns: Seq[(String, Long)]): Int = {
    require(partCols.nonEmpty, "at least one partition column")
    partCols.foreach(c => require(keys.contains(c),
      s"partition column $c must be part of the merge key"))
    (statsCols ++ bloomCols).foreach(c => require(!partCols.contains(c),
      s"stats column $c is a partition column — partition pruning already " +
        "covers it exactly"))
    val (root, fs) = (at.root, at.fs)
    // a branch must be FORKED, never implicitly created by a write: a
    // typo'd handle would otherwise silently swallow rows into an
    // anchorless chain no fastForward can ever publish
    if (at.version.isEmpty && brNs(root).nonEmpty)
      throw new java.io.FileNotFoundException(
        s"no branch at $root — createBranch first (writes never " +
          "implicitly create branches)")
    val next = at.next
    // the claim/cleanup protocol lives in stageVersion; a concurrent
    // writer staging the same version loses at the claim, before any
    // data moves, and a failed stage retracts claim + gen dir
    at.stage(if (replaceAll) "overwrite" else "merge", keys,
        // by-name: gateDelta runs inside the stage, so this reads the
        // gate's per-commit counts after it ran (empty when ungated)
        expectLog = Expectations.lastGateCounts) { genDir =>
      // txn idempotence RE-CHECKED after winning the claim: claims
      // serialize version numbers, so every previously committed batch of
      // this stream is visible here — two racing writers re-delivering
      // the same (streamId, batchId) cannot both commit it (the loser of
      // the claim retries at next+1 and aborts on this check), closing
      // the check-then-act window a sink-side lastTxn probe alone leaves
      // multi-tag commits (a join matview watermarks BOTH its sources in
      // one manifest) abort when ANY tag is already committed — the
      // conservative rule: a partial race means this refresh's deltas
      // were computed from watermarks a concurrent commit already moved
      (txn ++ extraTxns).foreach { case (sid, bid) =>
        if (lastTxn(spark, root, sid).exists(_ >= bid))
          throw new TxnAlreadyCommittedException(
            s"txn ($sid, $bid) is already committed at $root")
      }
      val prior = at.prior
      prior.foreach(m => require(m.partCols == partCols,
        s"partition columns ${partCols.mkString(",")} != committed ${m.partCols.mkString(",")}"))
      // an OVERWRITE has no surviving rows to keep an omitted column
      // alive through, so a frame missing a committed column would
      // silently NARROW the schema — while carried CHECK constraints
      // still reference the vanished column and wedge every later write
      if (replaceAll) prior.foreach { m =>
        val missing = m.schema.fieldNames.filterNot(updates.columns.contains)
        require(missing.isEmpty,
          s"overwrite must cover every table column; missing: " +
            s"${missing.mkString(", ")} — dropColumn first to remove " +
            "columns deliberately")
      }
      // CHECK constraints gate the DELTA only: surviving old rows passed
      // when they were written (addConstraint validated the backlog); a
      // violation aborts here and the claim/stage cleanup retracts.
      // Schema evolution: an updates frame may legitimately OMIT a
      // committed column (its rows land NULL there, which passes ANSI
      // CHECK) — null-fill those columns before evaluating, or the
      // predicate fails to resolve and a valid write aborts
      prior.map(pm => pm.checks ++ derivedChecks(pm))
          .filter(_.nonEmpty).foreach { cs =>
        enforceChecks(Expectations.alignToSchema(updates, prior.get.schema),
          cs, "upsert delta")
      }
      // DROP/QUARANTINE expectations (round 9) rewrite the delta ITSELF:
      // violating rows vanish from the write or route to the
      // expectation's quarantine table (keyed by merge keys +
      // expectation name — replays re-quarantine the same rows
      // idempotently). FAIL-mode CHECKs above already threw; tables
      // with no expectations pass through untouched.
      val gated = prior match {
        case Some(pm) => Expectations.gateDelta(spark, updates, pm)
        case None => Expectations.clearGateCounts(); updates
      }
      // schema evolution cannot introduce a column whose name collides
      // with the FROZEN physical name of a renamed column — two logical
      // columns would share one stored column
      prior.filter(pm => hasRenames(pm.schema)).foreach { pm =>
        val frozen = pm.schema.filter(f => physicalName(f) != f.name)
          .map(physicalName).toSet
        val clash = updates.columns
          .filterNot(pm.schema.fieldNames.contains).filter(frozen.contains)
        require(clash.isEmpty,
          s"new column(s) ${clash.mkString(", ")} collide with the " +
            "physical name of a renamed column — OPTIMIZE first to " +
            "materialize renames")
      }
      // small commits execute their write-side queries on an AQE-off
      // clone (see commitSession) — every plan below that ACTS re-binds
      // onto it; plans that merely feed the write ride along lazily.
      // The ENTRIES distinct scans only the updates frame, so the
      // updates estimate alone scopes it correctly; the WRITE also
      // rewrites the touched dirs' survivors, so its session decision
      // (sparkWrite below) adds their recorded bytes.
      // leaf-sum estimate, not the propagated plan estimate: size-only
      // estimation multiplies through joins, so a join-shaped delta
      // (matview refresh legs are CDF⋈dim joins) "estimated" terabytes
      // and never took the static path (see smallQuery's note)
      val updatesBytes: Option[BigInt] = leafBytesHint(updates)
      val sparkW = commitSession(spark, updatesBytes)
      // ONE single-stage probe serves both the touched-dir entries and
      // the survivors anti-join's key set on the static small-commit
      // path (Merge.deltaProbe) — replacing the separate distinct+
      // collect job AND the write plan's re-aggregation of the delta's
      // keys. The row cap (DeltaProbeMaxRows) guards explode-shaped
      // deltas whose leaf bytes are small but whose output is not (the
      // leaf-sum gate cannot see a Generate's fan-out); past it the
      // two-pass shape returns.
      val probe: Option[(Seq[(Seq[Any], String)], Option[Seq[Seq[Any]]])] =
        if (sparkW ne spark)
          scala.util.Try(
            Merge.deltaProbe(sparkW, gated, keys, partCols, DeltaProbeMaxRows,
              // keys feed ONLY the survivors anti-join: an initial load
              // or an INSERT OVERWRITE has no survivors, so skip the
              // key-set transfer outright
              collectKeys = !replaceAll && prior.nonEmpty))
            .toOption
        else None
      val entries = probe.map(_._1).getOrElse(
        Merge.partitionDirEntries(sparkW, gated, partCols))
      val valueOf: Map[String, Seq[Any]] = entries.map(_.swap).toMap
      val priorMapping = prior.map(_.mapping).getOrElse(Map.empty)
      // replaceAll (INSERT OVERWRITE): no survivors anywhere — prior
      // dirs simply leave the mapping below, so nothing needs reading
      val touchedLive =
        if (replaceAll) Map.empty[String, String]
        else priorMapping.filter { case (p, _) => valueOf.contains(p) }
      // the write's true input = delta + the touched dirs' surviving
      // rows: a 1-row upsert into a multi-GB partition must NOT take
      // the static small-commit plan on the delta estimate alone
      val touchedBytes = prior.fold(BigInt(0))(
        dirsBytes(_, touchedLive.keysIterator))
      val sparkWrite = commitSession(spark, updatesBytes.map(_ + touchedBytes))
      val pTypes = partCols.map(c => gated.schema(c).dataType)
      val merged =
        if (touchedLive.isEmpty) gated
        else {
          // read the touched dirs of every generation as ONE scan under
          // the prior version's data schema, the update side's exact
          // values as their partition values: inference-reconstructed
          // values would corrupt the anti-join (see
          // Merge.partitionDirEntries). Renames and initial defaults
          // apply as on every read — a rewrite of a pre-add dir must
          // materialize the default, not re-write NULLs over it
          val dataSchema = StructType(prior.get.schema
            .filterNot(f => partCols.contains(f.name)))
          val old = scanLeaves(spark,
            touchedLive.toSeq.map { case (rel, gen) =>
              ScanLeaf(gen, s"${tableRoot(root)}/$gen/$rel",
                catalystValues(valueOf(rel), pTypes)) },
            StructType(partCols.zip(pTypes).map { case (c, t) =>
              org.apache.spark.sql.types.StructField(c, t) }),
            Some(dataSchema),
            dvPairsFor(fs, root, prior.get,
              touchedLive.toSeq.map { case (rel, gen) => s"$gen/$rel/" }))
          // schema evolution at write: a column the updates add null-fills
          // for surviving old rows; a column the updates drop survives,
          // null for update rows. The key match is NULL-SAFE: the keys
          // are the table's logical identity (same contract changeFeed
          // applies with <=>), so a null-keyed row is REPLACED by a
          // null-keyed update — a plain equality would leave the old row
          // alongside the new one forever
          val keyTypes = keys.map(k => gated.schema(k).dataType)
          // delta keys already collected by the probe: fold them into
          // the write plan instead of re-evaluating the delta. Small key
          // sets inline as a null-safe NOT-matches-any FILTER on the
          // survivors scan — the left_anti <=> join as ONE expression
          // (array_contains over a literal array<struct> of the key
          // tuples: constant-size generated code regardless of tuple
          // count, so analysis/codegen stay flat per commit), removing
          // the exchange from BOTH join sides. Struct equality inside
          // array_contains is ordering-based (null fields compare equal,
          // exactly <=>), EXCEPT float/double (-0.0 vs 0.0, NaN — those
          // key types skip the inline path and keep the planner's
          // NormalizeFloatingNumbers treatment). The linear scan per
          // survivor row is budgeted against the manifest's touched-dir
          // row counts (InlineCmpBudget). Bigger/unsafe probed sets
          // become a LocalRelation build side (no delta re-scan; the join
          // shuffles remain).
          val inlineTypesSafe = keys.indices.forall { i =>
            (keyTypes(i) match {
              case org.apache.spark.sql.types.StringType |
                   org.apache.spark.sql.types.BooleanType |
                   org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.DateType |
                   org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.TimestampNTZType |
                   org.apache.spark.sql.types.BinaryType => true
              case _: org.apache.spark.sql.types.DecimalType => true
              case _ => false
            }) && old.columns.contains(keys(i)) &&
              old.schema(keys(i)).dataType == keyTypes(i)
          }
          // survivors-row budget from the manifest
          val touchedRows = touchedLive.keysIterator
            .map(prior.get.dirRows).sum
          val survivorsInline: Option[DataFrame] = probe.flatMap(_._2) match {
            case Some(tuples) if tuples.size <= InlineKeysMax &&
                inlineTypesSafe && touchedRows *
                  math.max(tuples.size.toLong, 1L) <= InlineCmpBudget =>
              scala.util.Try {
                if (tuples.isEmpty) old
                else {
                  val st = StructType(keys.indices.map(i =>
                    org.apache.spark.sql.types.StructField(keys(i),
                      keyTypes(i), nullable = true)))
                  val arrLit = org.apache.spark.sql.graftbridge.ColumnBridge
                    .column(org.apache.spark.sql.catalyst.expressions.Literal
                      .create(tuples.map(t =>
                        org.apache.spark.sql.Row.fromSeq(t)),
                        org.apache.spark.sql.types.ArrayType(st,
                          containsNull = false)))
                  val probeStruct = org.apache.spark.sql.functions.struct(
                    keys.map(k => col(k).as(k)): _*)
                  // analysis runs eagerly here: any type/shape mismatch
                  // throws inside the Try and falls back to the join
                  old.filter(!org.apache.spark.sql.functions
                    .array_contains(arrLit, probeStruct))
                }
              }.toOption
            case _ => None
          }
          val survivors = survivorsInline.getOrElse {
            val updKeys = probe.flatMap(_._2) match {
              case Some(tuples) =>
                val keySchema = StructType(keys.indices.map(i =>
                  org.apache.spark.sql.types.StructField(
                    s"__u_${keys(i)}", keyTypes(i), nullable = true)))
                import scala.jdk.CollectionConverters._
                sparkWrite.createDataFrame(tuples.map(t =>
                  org.apache.spark.sql.Row.fromSeq(t)).asJava, keySchema)
              case None => gated.select(keys.map(k =>
                col(k).as(s"__u_$k")): _*).distinct()
            }
            // static small commits are JOB-count-priced: a broadcast of
            // the key set materializes as its own Spark job, so force
            // the anti-join's build side through a shuffled hash join —
            // its shuffle runs as stages INSIDE the one write job.
            // Large (AQE) commits keep broadcast: there the touched-dir
            // side can be multi-GB and broadcasting the small key set
            // beats shuffling it.
            val updKeysJ = if (sparkWrite ne spark)
              updKeys.hint("shuffle_hash") else updKeys
            old.join(updKeysJ,
              keys.map(k => col(k) <=> col(s"__u_$k")).reduce(_ && _),
              "left_anti")
          }
          gated.unionByName(survivors, allowMissingColumns = true)
        }
      // renamed columns write their FROZEN physical names; the manifest
      // schema (with its rename metadata carried from the prior version
      // — unionByName rebuilds fields without it) stays logical. Its
      // top-level fields record nullable, as a parquet read returns them:
      // the frame's own flags depend on whether survivors joined the
      // write, and would flip between versions
      val outSchema = StructType(carryPhysical(merged.schema, prior)
        .map(_.copy(nullable = true)))
      // the full per-stream watermark map carries into EVERY manifest (new
      // tag merged in), so a later maintenance commit + vacuum cannot
      // erase another stream's exactly-once state
      val txns = prior.map(_.txns).getOrElse(Map.empty) ++ txn ++ extraTxns
      prior.filter(pm => entries.isEmpty && !replaceAll &&
          pm.schema == outSchema) match {
        // an empty delta that keeps the schema changes nothing but the
        // watermarks (a stream's data-less micro-batch): commit the prior
        // manifest with them advanced — no generation dir, no write job,
        // no footer stats
        case Some(pm) => carryAll(pm).copy(txns = txns)
        case None =>
          val (written, fresh) = writeGeneration(fs, sparkWrite, root, next,
            genDir, merged, partCols, keys, outSchema, statsCols, bloomCols,
            bloomBits, fileRows)
          val newMapping =
            (if (replaceAll) Map.empty[String, String] else priorMapping) ++
              written.map(_ -> genDir)
          val writtenSet = written.toSet
          stageRewrite(prior, partCols, outSchema, newMapping, fresh, txns,
            // a dir not written here is a prior dir: its token carries
            dirVers = newMapping.map { case (rel, _) =>
              rel -> (if (writtenSet.contains(rel)) genDir
                else prior.get.dirVers(rel)) })
      }
    }
  }

  /** Commit a staged version: create its empty `_commit.<N>` marker — one
    * fresh-object PUT, the single atomic step readers key on. Create-
    * exclusive: a second publisher of the same version throws instead of
    * silently co-publishing. */
  private[graft] def publish(spark: SparkSession, root: String,
                             version: Int): Unit = {
    val out = createExclusive(fsFor(spark, root),
      new Path(tableRoot(root), commitName(root, version)))
    out.close()
  }

  /** [[publish]] for the atomic-write/recovery paths, where publishes
    * legitimately RACE (two recoveries rolling one decision forward, or
    * a recovery racing the live writer's own publish loop): the loser's
    * create-exclusive failure means the version IS published, which is
    * this caller's success — re-check and swallow instead of failing a
    * COMMIT whose transaction actually committed. The single-claim-owner
    * write paths keep calling [[publish]] strict: there, an
    * already-exists marker is a protocol violation worth throwing on. */
  private[graft] def publishIdempotent(spark: SparkSession, root: String,
                                       version: Int): Unit =
    try publish(spark, root, version)
    catch { case e: java.io.IOException =>
      if (!isPublished(spark, root, version)) throw e }

  /** Whether `version` has a commit marker (is published). */
  private[graft] def isPublished(spark: SparkSession, root: String,
                                 version: Int): Boolean =
    fsFor(spark, root).exists(
      new Path(tableRoot(root), commitName(root, version)))

  /** Whether `version` has a staged manifest (published or not). */
  private[graft] def isStaged(spark: SparkSession, root: String,
                              version: Int): Boolean =
    fsFor(spark, root).exists(
      new Path(tableRoot(root), manifestName(root, version)))

  /** The raw-file serving plan for a CDC initial load pinned at
    * `version`: Some((files, partSchema)) when the snapshot IS its live
    * parquet files minus deletion-vector positions — no renamed
    * columns, no initial-default backfills — so a DSv2 reader can serve
    * them directly (zero-copy) instead of staging a full table copy.
    * Each file carries its dir's partition-path value fragments (still
    * path-escaped; the consumer unescapes/casts), aligned to
    * `partSchema` = the partition columns as schema fields, PLUS its
    * sorted DV positions (empty for most files): the consumer skips
    * exactly those row indices in-plan — `_metadata.row_index`
    * semantics, which a whole-file unsplit, unfiltered parquet read
    * reproduces by row counting. None when renames/defaults are in
    * play — the caller falls back to the read path, which applies
    * them. Planning cost: one listStatus per live dir plus the DV
    * sidecar slices (bounded by |deleted rows|, the DV design cap) —
    * never a table-sized copy. */
  private[graft] def rawSnapshotFiles(spark: SparkSession, root: String,
                                      version: Int)
      : Option[(Seq[(String, Long, Long, Seq[String], Seq[Long])],
                StructType, StructType)] = {
    val m = resolveManifestAt(spark, root, version, version)
    if (hasRenames(m.schema) ||
        initialDefaults(m.schema).nonEmpty) return None
    val fs = fsFor(spark, root)
    val depth = m.partCols.length + 2
    // the SAME key derivation fileKeyCol applies to _metadata.file_path
    // (last `depth` segments, percent-decoded with the '+' guard), so
    // DV lookups here can never drift from how the DVs were recorded
    def dvPosFor(path: String): Seq[Long] =
      if (m.dvs.isEmpty) Nil
      else {
        val key = java.net.URLDecoder.decode(
          path.split("/").takeRight(depth).mkString("/")
            .replace("+", "%2B"), "UTF-8")
        m.dvFor(fs, root, key).fold(Seq.empty[Long])(_.toSeq.sorted)
      }
    rawDirFiles(spark, root, m.mapping.toSeq.sortBy(_._1), m.partCols,
        dvPosFor)
      .map(files => (files,
        StructType(m.partCols.map(c => m.schema(c))), m.schema))
  }

  /** Shared dir-validation + listing of the raw CDC legs: each rel must
    * map 1:1 onto `partCols` as `col=value` segments (Spark's
    * partitionBy layout, values still path-escaped); None when any rel
    * doesn't — the caller falls back to the read path. `dvPos` supplies
    * each file's deletion-vector positions (snapshot leg; the
    * append-diff leg serves only DV-free files). */
  private def rawDirFiles(spark: SparkSession, root: String,
                          dirs: Seq[(String, String)],
                          partCols: Seq[String],
                          dvPos: String => Seq[Long] = _ => Nil)
      : Option[Seq[(String, Long, Long, Seq[String], Seq[Long])]] = {
    val fs = fsFor(spark, root)
    val files = Seq.newBuilder[(String, Long, Long, Seq[String], Seq[Long])]
    dirs.foreach { case (rel, gen) =>
      val segs = if (rel.isEmpty) Array.empty[String] else rel.split("/")
      if (segs.length != partCols.length ||
          segs.zip(partCols).exists { case (seg, c) =>
            !seg.startsWith(c + "=") })
        return None // layout this helper does not understand: fall back
      val vals = segs.map(s => s.substring(s.indexOf('=') + 1)).toSeq
      fs.listStatus(new Path(tableRoot(root), s"$gen/$rel"))
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .foreach(s => files += ((s.getPath.toString, s.getLen,
          s.getModificationTime, vals, dvPos(s.getPath.toString))))
    }
    Some(files.result())
  }

  /** [[rawSnapshotFiles]]' DIFF twin for APPEND-ONLY version
    * transitions — the streaming-ingest shape, where each commit lands
    * whole NEW partition dirs and touches nothing else: the (from, to]
    * change feed is then exactly the new dirs' files, every row an
    * insert, and a CDC reader can serve them zero-copy. Some(files)
    * when (a) no deletion vector touches a SERVED (new) dir's files —
    * DVs parked on old, unserved dirs are fine — and `to` needs no
    * renames/default backfills, (b) no dir was removed, and
    * (c) every dir common to both versions has an IDENTICAL content
    * token (maintenance rewrites carry tokens, so compaction between
    * the versions still qualifies — its diff is empty; delete-dv
    * commits bump the token, so a DV change on a common dir is caught
    * here too). The upsert
    * contract (partition cols ⊆ merge keys) makes new-dir rows pure
    * inserts: a key's rows live in ONE dir, so a new dir can never
    * hold an update of an old dir's key. None → the caller takes the
    * read path (changeFeedCdf), which computes the general diff. */
  private[graft] def rawAppendDiffFiles(spark: SparkSession, root: String,
                                        from: Int, to: Int)
      : Option[(Seq[(String, Long, Long, Seq[String], Seq[Long])],
                StructType, StructType)] = {
    val mf = resolveManifestAt(spark, root, from, from)
    val mt = resolveManifestAt(spark, root, to, to)
    if (hasRenames(mt.schema) ||
        initialDefaults(mt.schema).nonEmpty) return None
    if (mf.mapping.keysIterator.exists(rel => !mt.mapping.contains(rel)))
      return None // a dir vanished: deletes in the diff
    if (mf.mapping.keysIterator.exists(rel =>
        mf.dirVers(rel) != mt.dirVers(rel)))
      return None // a common dir's CONTENT changed: updates in the diff
    // deletion vectors parked on OLD dirs are FINE (those dirs are not
    // served, and a DV that changed on a common dir between the
    // endpoints is caught by the token compare above — a delete-dv
    // commit bumps the token); a DV on a SERVED file means some of its
    // rows were added then deleted within (from, to] — not pure
    // inserts, fall back
    val newDirs = mt.mapping.toSeq.sortBy(_._1)
      .filterNot { case (rel, _) => mf.mapping.contains(rel) }
    val newRels = newDirs.map(_._1).toSet
    if (mt.dvs.keysIterator.exists(k => newRels.contains(dvKeyRel(k))))
      return None
    rawDirFiles(spark, root, newDirs, mt.partCols)
      .map(files => (files,
        StructType(mt.partCols.map(c => mt.schema(c))), mt.schema))
  }

  /** The partition-dir rel of a DV/stat file key ("gen/<part dirs>/
    * <file>"): the segments between the generation and the file name.
    * A bare "gen/<file>" key (rel = "" — the unpartitioned layout the
    * manifest format permits even though prepare() always partitions)
    * must yield "", NOT be skipped: rawAppendDiffFiles' served-dir DV
    * guard compares this against newRels, which CONTAINS "" exactly
    * when the root dir is new — the earlier `dirOf > relStart` guard
    * silently never fired there, so a served file's DV-deleted rows
    * would have been zero-copy-served as inserts. */
  private[graft] def dvKeyRel(k: String): String = {
    val dirOf = k.lastIndexOf('/')
    val relStart = k.indexOf('/') + 1
    if (dirOf < relStart) "" else k.substring(relStart, dirOf)
  }

  /** Retract a STAGED-but-unpublished version: delete its generation
    * dir, per-version sidecars, and manifest claim — the multi-table
    * atomic write's crash ROLLBACK for stages whose decision marker was
    * never written ([[MultiSync.upsertAtomic]]). Same litter-first,
    * claim-last order as stageVersion's own failure cleanup. Refuses a
    * published version loudly — only crash recovery under the atomic
    * writer's single-writer discipline may call this. */
  private[graft] def retractStaged(spark: SparkSession, root: String,
                                   version: Int): Unit = {
    val fs = fsFor(spark, root)
    require(!isPublished(spark, root, version),
      s"version $version at $root is published — cannot retract")
    fs.delete(new Path(tableRoot(root), genName(root, version)), true)
    fs.delete(new Path(tableRoot(root), bloomSidecar(root, version)), false)
    fs.delete(new Path(tableRoot(root),
      s"_dvx.${brNs(root)}$version"), false)
    fs.delete(new Path(tableRoot(root),
      s"_idx.${brNs(root)}$version"), false)
    fs.delete(new Path(tableRoot(root), manifestName(root, version)), false)
  }

  /** Partition-pruned MERGE as an atomic table-version bump. With
    * `statsCols`, the written files are clustered on those columns and
    * per-file min/max/null-count lands in the manifest — [[readWhere]]
    * then skips whole files whose range misses a predicate, the
    * sub-partition half of scan pruning (partition dirs prune the other
    * half). `fileRows` caps rows per data file so hot partitions split
    * into several independently skippable files.
    *
    * Disjoint-partition optimistic concurrency (Delta-style conflict
    * detection, partition granularity): on losing the claim race, wait
    * for the winner's commit marker, then compare this merge's partition
    * set against every interleaved version's TOUCHED set (dirs mapped to
    * that version's generation, plus dirs the version dropped). Disjoint
    * → retry on the new current version: the loser's anti-join ran only
    * against partitions the winner never changed, so restaging on top of
    * the winner's mapping is exactly the serialized result — per-source
    * ingest jobs writing different dates commit concurrently (v+1, v+2).
    * Overlapping → [[ConcurrentWriteConflictException]], loudly: the
    * loser's survivors were computed against replaced data. A claim that
    * never publishes (crashed writer) rethrows after
    * `graft.versioned.claimWaitMs` (default 30 s) with the vacuum hint.
    * Returns the committed version (the current one for an
    * already-committed txn no-op replay). */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keys: Seq[String], partCols: Seq[String],
             statsCols: Seq[String] = Nil,
             fileRows: Option[Int] = None,
             bloomCols: Seq[String] = Nil,
             bloomBits: Long = 0L,
             txn: Option[(String, Long)] = None,
             replaceAll: Boolean = false,
             extraTxns: Seq[(String, Long)] = Nil): Int =
    commitLoop(spark, root,
      if (replaceAll) WholeTable("INSERT OVERWRITE replaces")
      else new Disjoint(Merge.partitionDirEntries(spark, updates, partCols)
        .map(_._2).toSet)) { at =>
      try at.publish(stageMerge(spark, at, updates, keys, partCols,
        statsCols, fileRows, bloomCols, bloomBits, txn, replaceAll,
        extraTxns))
      catch { case _: TxnAlreadyCommittedException => // no-op replay
        currentVersion(spark, root).getOrElse(at.basedOn max 0)
      }
    }

  /** A claim-race loser's wait: poll until some version NEWER than
    * `basedOn` is COMMITTED (the winner published) or
    * `graft.versioned.claimWaitMs` elapses — Some(newCurrent) to retry
    * against, None when the claim belongs to a writer that staged but
    * never published (crashed: vacuum is the documented recovery). */
  private def awaitCommitAfter(spark: SparkSession, root: String,
                               basedOn: Int): Option[Int] = {
    val waitMs =
      sys.props.getOrElse("graft.versioned.claimWaitMs", "30000").toLong
    val deadline = System.nanoTime + waitMs * 1000000L
    var newCur = currentVersion(spark, root).getOrElse(-1)
    while (newCur <= basedOn && System.nanoTime < deadline) {
      Thread.sleep(50)
      newCur = currentVersion(spark, root).getOrElse(-1)
    }
    if (newCur <= basedOn) None else Some(newCur)
  }

  /** Partition dirs version `v` changed relative to `v-1`: dirs its
    * manifest maps to gen<v> (written/rewritten) plus dirs present in
    * v-1's mapping but absent in v's (dropped by a delete). None = the
    * footprint is unverifiable (prior manifest vacuumed, or the version
    * changed the partition LAYOUT, making dir strings incomparable) —
    * callers treat that as conflicting. */
  private[graft] def touchedDirs(fs: FileSystem, root: String,
                                 v: Int): Option[Set[String]] = {
    val m = readManifest(fs, root, v)
    val written = m.mapping.collect {
      case (rel, gen) if gen == genName(root, v) => rel }.toSet
    if (v == 0) Some(written)
    else if (!fs.exists(new Path(tableRoot(root), manifestName(root, v - 1)))) None
    else {
      val prev = readManifest(fs, root, v - 1)
      if (prev.partCols != m.partCols) None
      else Some(written ++ (prev.mapping.keySet -- m.mapping.keySet))
    }
  }

  /** Highest transaction version committed for `txnId` across the
    * RETAINED manifests — the idempotence check for exactly-once
    * streaming ingestion (the Delta txnAppId/txnVersion idea): a
    * foreachBatch writer tags each upsert with (streamId, batchId) and
    * skips any batchId <= lastTxn on re-delivery after checkpoint loss.
    * Vacuum bounds the memory: keep a retention window at least as long
    * as the replay horizon or a vacuumed batch could re-apply (harmless
    * for key-idempotent MERGEs, an extra version otherwise). */
  def lastTxn(spark: SparkSession, root: String, txnId: String): Option[Long] =
    // every manifest carries the FULL per-stream watermark map forward
    // (REPLACE TABLE resets it), so the newest manifest answers alone
    currentVersion(spark, root).flatMap(v =>
      readTxnDirectives(fsFor(spark, root), root, v).get(txnId))

  /** [[lastTxn]] PINNED at a specific committed version: the watermark
    * as of that manifest — consumers pairing versioned sidecar state
    * with a snapshot read (AnnIndex centroids) resolve both from the
    * same version instead of racing a concurrent commit. */
  private[graft] def lastTxnAt(spark: SparkSession, root: String,
                               txnId: String, version: Int): Option[Long] =
    history(spark, root).takeWhile(_ <= version).lastOption.flatMap(v =>
      readTxnDirectives(fsFor(spark, root), root, v).get(txnId))

  /** Parse ONLY the #txn directives of a manifest — [[stageVersion]]
    * writes them right after the header, so the scan stops at the first
    * line past them (the registries, per-dir lines and mapping) instead
    * of parsing the whole manifest per micro-batch. */
  private def readTxnDirectives(fs: FileSystem, root: String,
                                version: Int): Map[String, Long] = {
    val in = fs.open(new Path(tableRoot(root), manifestName(root, version)))
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .map(_.trim).filter(_.nonEmpty)
        .takeWhile(l => LeadingDirectives.contains(l.takeWhile(_ != '\t')))
        .collect { case l if l.startsWith("#txn\t") =>
          val parts = l.split("\t", -1)
          (new String(java.util.Base64.getDecoder.decode(parts(1)),
            StandardCharsets.UTF_8), parts(2).toLong)
        }.toList.groupBy(_._1).map { case (sid, xs) =>
          sid -> xs.map(_._2).max }
    } finally reader.close()
  }

  /** Single-partition-column convenience overload. */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keys: Seq[String], partCol: String): Int =
    upsert(spark, root, updates, keys, Seq(partCol))

  /** Change data feed between two committed versions: one row per logical
    * key whose content DIFFERS between `fromVersion` and `toVersion`,
    * with `op` ∈ insert | update | delete and the TO-version's row values
    * (deletes carry the FROM-version's values, null-filled into the TO
    * schema) — the Delta CDF idea on the manifest protocol: because
    * versions are immutable and time-travel readable, the feed between
    * ANY two retained versions is computable after the fact, no change
    * log maintained on the write path. Downstream incremental consumers
    * (warehouse sync, cache invalidation, re-embedding queues) process
    * O(|changed keys|), not O(|table|) — the reference's warehouse
    * loader re-MERGEs its full staging frame every run
    * (load_to_snowflake.py:212-231); feeding it this delta instead is
    * the incremental version of the same contract.
    *
    * `keys` is the table's logical merge key (the manifest records
    * partition columns, not merge keys — same contract as [[upsert]]).
    * Scale shape: ONE null-safe full-outer join keyed on `keys` over the
    * two versions' CHANGED partition dirs only (changedSideScans below —
    * the scan itself is O(|changed partitions|), not O(|table|));
    * unchanged rows drop immediately after
    * the join, so everything downstream is change-volume-sized. Content
    * comparison is null-safe equality over the columns the two versions
    * share; a column added in `to` makes every surviving row differ only
    * if its values do (it is absent from the comparison set, present
    * null-filled in delete output).
    *
    * Deliberately NOT expressed over [[Merge.snapshotDiff]]: that
    * operator returns (keys, change-label) only, while the feed carries
    * per-op row values with from/to side selection and cross-schema
    * null-fill — forcing both through one core would parameterize the
    * select list past the point of readability. The shared subtlety
    * (presence MARKERS, not key nullness, because a legitimately-null
    * key must not read as absent) is the same in both; change it in one
    * place, check the other. */
  /** The two version-side scans a change feed diffs, restricted to
    * partition dirs whose CONTENT can differ between the versions: a
    * dir is included iff its content token changed or it was added or
    * dropped. Exact, because partCols ⊆ merge keys means a logical key
    * can NEVER move between partition dirs — rows of untouched dirs
    * are bit-identical on both sides and the feed would drop them
    * anyway. This is what makes the feed (and everything built on it:
    * syncChanges, the streaming CDC leg, MatView refresh)
    * O(|changed partitions|) instead of O(|table|) per call.
    * Maintenance rewrites (compact, small-file compaction, DV
    * materialization) carry each dir's CONTENT token while real writes
    * (deletion-vector deletes included) bump it, so a feed spanning an
    * OPTIMIZE still skips the untouched bulk; only a partition-LAYOUT
    * change (repartitionTable) forces a full diff — dir names are
    * incomparable across it. */
  private def changedSideScans(spark: SparkSession, root: String,
                               fromVersion: Int, toVersion: Int)
      : (DataFrame, DataFrame) = {
    val mF = resolveManifest(spark, root, Some(fromVersion))
    val mT = resolveManifest(spark, root, Some(toVersion))
    // a dir absent on one side (added or dropped) compares None
    val rels = (mF.mapping.keySet ++ mT.mapping.keySet)
      .filter(rel => mF.dirVers.get(rel) != mT.dirVers.get(rel))
    def side(m: Manifest): DataFrame = {
      val dirs = m.mapping.filter { case (rel, _) => rels.contains(rel) }
      if (dirs.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      else scanDirs(spark, root, m, dirs)
    }
    (side(mF), side(mT))
  }

  /** The table's recorded merge keys (written at every upsert) — what
    * lets SQL-only consumers diff versions with no out-of-band schema
    * knowledge. Empty on tables never written by this build. */
  def keysOf(spark: SparkSession, root: String,
             asOfVersion: Option[Int] = None): Seq[String] =
    resolveManifest(spark, root, asOfVersion).keys

  private def recordedKeys(spark: SparkSession, root: String): Seq[String] = {
    val ks = keysOf(spark, root)
    require(ks.nonEmpty,
      s"$root records no merge keys (written before the #keys directive) " +
        "— pass them explicitly")
    ks
  }

  /** [[changeFeed]] keyed by the table's RECORDED merge keys — the
    * SQL-facing spelling (`graft_changes('/root', from, to)`). */
  def changeFeed(spark: SparkSession, root: String,
                 fromVersion: Int, toVersion: Int): DataFrame =
    changeFeed(spark, root, recordedKeys(spark, root), fromVersion,
      toVersion)

  /** [[changeFeedCdf]] keyed by the recorded merge keys. */
  def changeFeedCdf(spark: SparkSession, root: String,
                    fromVersion: Int, toVersion: Int): DataFrame =
    changeFeedCdf(spark, root, recordedKeys(spark, root), fromVersion,
      toVersion)

  def changeFeed(spark: SparkSession, root: String, keys: Seq[String],
                 fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val (from, to) = changedSideScans(spark, root, fromVersion, toVersion)
    keys.foreach(k => require(to.columns.contains(k) && from.columns.contains(k),
      s"key column $k must exist in both versions"))
    val toData = to.columns.toSeq.filterNot(keys.contains)
    val common = toData.intersect(from.columns.toSeq)
    val f = from.select(from.columns.toSeq.map(c =>
      col(c).as(s"__f_$c")) :+ lit(true).as("__f_p"): _*)
    val t = to.select(to.columns.toSeq.map(col) :+ lit(true).as("__t_p"): _*)
    val joinCond = keys.map(k => col(k) <=> col(s"__f_$k")).reduce(_ && _)
    val same = common.map(c => col(c) <=> col(s"__f_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val inFrom = col("__f_p").isNotNull
    val inTo = col("__t_p").isNotNull
    t.join(f, joinCond, "full_outer")
      .withColumn("op",
        when(!inFrom, lit("insert"))
          .when(!inTo, lit("delete"))
          .when(!same, lit("update")))
      .filter(col("op").isNotNull)
      .select(col("op") +:
        keys.map(k => coalesce(col(k), col(s"__f_$k")).as(k)) ++:
        toData.map { c =>
          val fromSide = if (from.columns.contains(c)) col(s"__f_$c")
            else lit(null)
          when(col("op") === "delete", fromSide).otherwise(col(c)).as(c)
        }: _*)
  }

  /** [[changeFeed]]'s full-fidelity flavor (Delta CDF's row types): an
    * update emits TWO rows — `update_preimage` with the FROM-version's
    * values and `update_postimage` with the TO-version's — alongside
    * `insert` / `delete`, so a consumer can SUBTRACT the old
    * contribution and ADD the new one without re-reading either version.
    * This is what makes downstream state (a [[MatView]] running sum, a
    * feature-store entry, a warehouse aggregate) maintainable in
    * O(|changes|): decomposable aggregates never touch the table again.
    * Same join core and null-fill rules as [[changeFeed]]; the pre/post
    * expansion is a single `explode` over the joined row (one pass, no
    * second scan of either version). Output schema: `op`, keys, then
    * the TO-version's data columns (pre-image/delete rows carry FROM
    * values, null where the column postdates `fromVersion`). */
  def changeFeedCdf(spark: SparkSession, root: String, keys: Seq[String],
                    fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val (from, to) = changedSideScans(spark, root, fromVersion, toVersion)
    keys.foreach(k => require(to.columns.contains(k) && from.columns.contains(k),
      s"key column $k must exist in both versions"))
    val toData = to.columns.toSeq.filterNot(keys.contains)
    val common = toData.intersect(from.columns.toSeq)
    val f = from.select(from.columns.toSeq.map(c =>
      col(c).as(s"__f_$c")) :+ lit(true).as("__f_p"): _*)
    val t = to.select(to.columns.toSeq.map(col) :+ lit(true).as("__t_p"): _*)
    val joinCond = keys.map(k => col(k) <=> col(s"__f_$k")).reduce(_ && _)
    val same = common.map(c => col(c) <=> col(s"__f_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val inFrom = col("__f_p").isNotNull
    val inTo = col("__t_p").isNotNull
    def image(op: String, fromSide: Boolean) = struct(
      lit(op).as("op") +:
        keys.map(k => coalesce(col(k), col(s"__f_$k")).as(k)) ++:
        toData.map { c =>
          val fs = if (from.columns.contains(c)) col(s"__f_$c")
            else lit(null).cast(to.schema(c).dataType)
          (if (fromSide) fs else col(c)).as(c)
        }: _*)
    t.join(f, joinCond, "full_outer")
      .withColumn("__rows",
        when(!inFrom, array(image("insert", fromSide = false)))
          .when(!inTo, array(image("delete", fromSide = true)))
          .when(!same, array(image("update_preimage", fromSide = true),
            image("update_postimage", fromSide = false))))
      .filter(col("__rows").isNotNull)
      .select(explode(col("__rows")).as("__r"))
      .select(col("__r.*"))
  }

  /** Targeted DELETE by range predicate — the GDPR/right-to-erasure shape
    * at lake scale: rows where `column` ∈ [lower, upper] are removed in a
    * NEW committed version, and the manifest's file statistics decide
    * which partition dirs can possibly hold matches, so only THOSE dirs
    * are read and rewritten — untouched dirs keep their mapping (and
    * byte-identity) exactly like a pruned upsert. Cost is O(|dirs with
    * candidate files|), located by index instead of a table scan. A dir
    * left empty by the delete drops out of the mapping (the partition
    * disappears). NULLs never match a range predicate and always survive.
    * Prior versions still read the deleted rows via `asOfVersion` until
    * [[vacuum]] retires them — physical erasure = deleteWhere + vacuum.
    * Index coverage is preserved: rewritten dirs get fresh stats/blooms
    * for the same columns the touched files carried — pass the table's
    * write-time `fileRows`/`bloomBits` so index QUALITY survives too
    * (without fileRows a rewritten partition collapses to one wide file
    * whose min/max prunes nothing; bloom sizing follows
    * [[sizedBloomBits]]). Returns the new version (or the current one
    * unchanged when no dir can match — a provable no-op commits
    * nothing). `column` must be a data column; dropping whole partitions
    * by partition-column value needs no rewrite at all (filter [[read]]
    * or re-upsert). */
  def deleteWhere(spark: SparkSession, root: String, column: String,
                  lower: Any, upper: Any,
                  fileRows: Option[Int] = None,
                  bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.functions.lit
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    require(!m.partCols.contains(column),
      s"$column is a partition column — drop partitions by re-upserting " +
        "or filtering read(), no file rewrite needed")
    // readWhere's selection: a dir is touched when any of its files could
    // hold a matching row
    val touched = selectedDirs(root, constrainedSelection(spark, root, m,
      Seq(ColConstraint(column, Some(lower), Some(upper), None)))._2)
    if (touched.isEmpty) at.cur // index proves nothing can match
    else rewriteTouched(spark, at, touched, fileRows,
        bloomBits, op = "delete") { df =>
      df.filter(!(col(column) >= lit(lower) && col(column) <= lit(upper)) ||
        col(column).isNull)
    }
  }

  /** Shared index-targeted REWRITE core for [[deleteWhere]] and
    * [[updateWhere]]: scan ONLY the touched dirs (deletion vectors
    * applied — the rewrite materializes them), run `transform`, rewrite
    * those dirs into a fresh generation clustered like the originals
    * (stats/bloom coverage re-derived from what the touched files
    * carried), carry every untouched dir's mapping/stats/blooms/DVs
    * verbatim. A touched dir the transform leaves EMPTY drops out of the
    * mapping. Publishes and returns the new version. */
  /** `contentChanging=false` is the MAINTENANCE promise: the transform
    * preserves every dir's logical rows (compaction, DV
    * materialization), so content tokens carry and a change feed
    * spanning the commit skips the rewritten dirs entirely. */
  private def rewriteTouched(spark: SparkSession, at: Attempt,
                             touched: Map[String, String],
                             fileRows: Option[Int], bloomBits: Long,
                             zOrderCols: Seq[String] = Nil,
                             contentChanging: Boolean = true,
                             op: String = "rewrite",
                             expectLog: Map[String, Long] = Map.empty)
                            (transform: DataFrame => DataFrame): Int = {
    val (root, fs, m) = (at.root, at.fs, at.m)
    // the touched dirs' coverage reads off the #diridx col lists — no
    // sidecar I/O just to learn which columns to re-collect
    val tRefs = touched.keysIterator.flatMap(m.idxRefs.get).toSeq
    val statsCols = tRefs.flatMap(_.statCols)
      .distinct.filterNot(m.partCols.contains)
    val bloomCols = tRefs.flatMap(_.bloomCols)
      .distinct.filterNot(m.partCols.contains)
    at.commit(op, m.keys, expectLog) { genDir =>
      // the rewrite's input is exactly the touched dirs — their recorded
      // byte totals are a FREE size hint for the small-commit AQE-off
      // plan
      val sparkW = commitSession(spark,
        Some(dirsBytes(m, touched.keysIterator)))
      val (written, fresh) = writeGeneration(fs, sparkW, root, at.next,
        genDir, transform(scanDirs(spark, root, m, touched)), m.partCols,
        m.keys, m.schema, statsCols, bloomCols, bloomBits, fileRows, zOrderCols)
      // untouched dirs keep their mapping; touched dirs remap to the new
      // gen if they still have rows, disappear otherwise
      val newMapping = (m.mapping -- touched.keys) ++
        written.map(_ -> genDir)
      stageRewrite(Some(m), m.partCols, m.schema, newMapping, fresh, m.txns,
        // a dir new to the table (a MERGE insert into a fresh partition)
        // gets this version's token
        dirVers = newMapping.map { case (rel, _) =>
          rel -> (if (contentChanging && touched.contains(rel)) genDir
            else m.dirVers.getOrElse(rel, genDir)) })
    }
  }

  /** Index-targeted UPDATE by range predicate — completes the lake's DML
    * triangle (MERGE = [[upsert]], DELETE = [[deleteWhere]]/[[
    * deleteWhereDV]], UPDATE = here): rows where `column` ∈ [lower,
    * upper] get each `set` column replaced by its expression; every
    * other row — and every untouched dir, byte-for-byte — survives
    * unchanged. ALL right-hand sides evaluate against the OLD row
    * (standard SQL UPDATE semantics: `SET a = b, b = a` swaps), and
    * results cast back to the declared column types so the schema cannot
    * drift. Candidate dirs come from the manifest index exactly like
    * deleteWhere when `column` is a data column; a PARTITION-column
    * predicate prunes directories by their encoded value (the dir name
    * IS the value — exact, no file stats needed). Set columns must be
    * DATA columns: updating a partition column is a row MOVE between
    * dirs — re-upsert for that. NULL predicate values never match.
    * Rewritten dirs re-index (fresh stats/blooms, set columns included
    * if they were covered) and materialize any deletion vectors.
    * Returns the new version, or the current one when no file can
    * match. */
  def updateWhere(spark: SparkSession, root: String, column: String,
                  lower: Any, upper: Any,
                  set: Map[String, org.apache.spark.sql.Column],
                  fileRows: Option[Int] = None,
                  bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.functions.lit
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    requireSet(m, set)
    // a partition-column range prunes dirs by their encoded value, a
    // data-column range by the index — both in the one selection
    val touched = selectedDirs(root, constrainedSelection(spark, root, m,
      Seq(ColConstraint(column, Some(lower), Some(upper), None)))._2)
    if (touched.isEmpty) at.cur // index proves nothing can match
    else updateCore(spark, at, touched,
      col(column) >= lit(lower) && col(column) <= lit(upper),
      set, fileRows, bloomBits)
  }

  /** Key-list UPDATE: [[updateWhere]]'s semantics with an IN-list
    * predicate — the subject-id correction shape (fix these N records).
    * Candidate dirs come from the same bloom + point-range probes as
    * [[deleteWhereIn]]; everything else (OLD-row SET semantics, CHECK
    * gating, index-preserving rewrite, DV materialization) matches
    * updateWhere. NULL ids dropped; empty lists commit nothing. */
  def updateWhereIn(spark: SparkSession, root: String, column: String,
                    values: Seq[Any],
                    set: Map[String, org.apache.spark.sql.Column],
                    fileRows: Option[Int] = None,
                    bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    require(!m.partCols.contains(column),
      s"$column is a partition column — use updateWhere's exact dir pruning")
    requireSet(m, set)
    val vs = values.filter(_ != null)
    val touched =
      if (vs.isEmpty) Map.empty[String, String]
      else selectedDirs(root, constrainedSelection(spark, root, m,
        Seq(ColConstraint(column, None, None, None, inSet = Some(vs))))._2)
    if (touched.isEmpty) at.cur // index proves nothing can match
    else updateCore(spark, at, touched, col(column).isin(vs: _*),
      set, fileRows, bloomBits)
  }

  /** UPDATE's SET map against the current schema — checked before any
    * file selection, so a bad map fails even when nothing can match. */
  private def requireSet(m: Manifest,
                         set: Map[String, org.apache.spark.sql.Column]): Unit = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    set.keys.foreach { c =>
      require(m.schema.fieldNames.contains(c),
        s"SET column $c is not in the table schema")
      require(!m.partCols.contains(c),
        s"SET column $c is a partition column — updating it moves rows " +
          "between partition dirs; re-upsert the affected rows instead")
    }
  }

  /** Dirs holding anything the selection will scan — rel dir -> gen: the
    * candidate set a rewrite-flavor DML call touches (the one derivation,
    * shared by every caller so path parsing cannot diverge). */
  private def selectedDirs(root: String, sel: ScanSelection)
      : Map[String, String] =
    (sel.wholeDirs.map { case (gen, p) =>
      p.stripPrefix(s"${tableRoot(root)}/$gen/") -> gen
    } ++ sel.files.map { case (gen, p) =>
      val f = p.stripPrefix(tableRoot(root) + "/")
      f.substring(f.indexOf('/') + 1, f.lastIndexOf('/')) -> gen
    }).toMap

  /** Shared UPDATE core (its callers checked the SET map with
    * [[requireSet]]): project every schema column through
    * `when(cond, expr).otherwise(old)` — ALL right-hand sides against
    * the OLD row, results cast back to declared types — gate the updated
    * rows on the CHECK constraints, then rewrite the touched dirs. */
  private def updateCore(spark: SparkSession, at: Attempt,
                         touched: Map[String, String],
                         cond: org.apache.spark.sql.Column,
                         set: Map[String, org.apache.spark.sql.Column],
                         fileRows: Option[Int], bloomBits: Long): Int = {
    import org.apache.spark.sql.functions.when
    val (root, m) = (at.root, at.m)
    def applySet(df: DataFrame): DataFrame =
      df.select(m.schema.fieldNames.toSeq.map { f =>
        set.get(f)
          .map(e => when(cond, e.cast(m.schema(f).dataType))
            .otherwise(col(f)).as(f))
          .getOrElse(col(f))
      }: _*)
    // CHECK constraints (and derived-partition invariants) gate the
    // UPDATED rows before anything stages
    // expectations act as FAIL gates on UPDATE: silently dropping a
    // surviving row mid-rewrite is not a meaningful semantics
    val gates = m.checks ++ derivedChecks(m) ++
      Expectations.failGatesFor(m.props)
    if (gates.nonEmpty)
      enforceChecks(applySet(scanDirs(spark, root, m, touched).filter(cond)),
        gates, "UPDATE result")
    rewriteTouched(spark, at, touched, fileRows,
        bloomBits, op = "update")(applySet)
  }

  /** Merge-on-read DELETE (deletion vectors): rows where `column` ∈
    * [lower, upper] are recorded as per-file deleted ROW POSITIONS in a
    * `_dvx.<N>` sidecar and dropped by every subsequent read — NO data
    * file is rewritten (the Delta deletion-vector / Iceberg
    * position-delete idea). Commit cost is O(|matched rows|) sidecar
    * bytes plus one index-pruned candidate scan, vs [[deleteWhere]]'s
    * O(|touched dirs|) rewrite — the right shape for sparse GDPR-style
    * deletes on a 100 TB table. Read-side cost is a BROADCAST anti-join
    * on (file key, `_metadata.row_index`) applied only when the scanned
    * scope carries DVs; [[compact]] / [[compactSmallFiles]] / the next
    * [[upsert]] of a touched partition materialize the deletes and drop
    * the vectors. Matched positions collect to the driver (the sidecar
    * is a driver-written object): `maxDeleteRows` caps that at ~8
    * bytes/row — past it the error points at [[deleteWhere]]. Repeated
    * calls UNION positions (already-deleted rows never match again).
    * Returns the new version — or the current one unchanged when no
    * live row matches (a provable no-op commits nothing). Physical
    * erasure still requires a rewrite + [[vacuum]]: deleted bytes stay
    * inside the data files until then (same caveat as Delta's DVs).
    * File min/max/bloom stats stay PHYSICAL (a superset of live rows),
    * so pruning remains sound; metadata-only COUNT folds subtract DV
    * cardinalities exactly, MIN/MAX folds conservatively fall back to
    * scans for DV'd dirs. */
  def deleteWhereDV(spark: SparkSession, root: String, column: String,
                    lower: Any, upper: Any,
                    maxDeleteRows: Long = 16L * 1024 * 1024): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.functions.lit
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    require(!m.partCols.contains(column),
      s"$column is a partition column — drop partitions by re-upserting " +
        "or filtering read(), no delete needed")
    // candidate files via the SAME selection a readWhere scans; the
    // residual predicate below decides the exact positions
    dvDelete(spark, at, constrainedSelection(spark, root, m,
        Seq(ColConstraint(column, Some(lower), Some(upper), None)))._2,
      col(column) >= lit(lower) && col(column) <= lit(upper), maxDeleteRows)
  }

  /** Shared merge-on-read core for [[deleteWhereDV]]/[[deleteWhereInDV]]:
    * scan the selection with `_metadata`, collect the predicate's
    * matching (file, position) pairs, union with existing vectors, and
    * commit a data-file-untouched version. */
  private def dvDelete(spark: SparkSession, at: Attempt, sel: ScanSelection,
                       predicate: org.apache.spark.sql.Column,
                       maxDeleteRows: Long): Int = {
    import org.apache.spark.sql.functions.{collect_list, lit, sort_array, count => cnt}
    val (root, fs, m, cur) = (at.root, at.fs, at.m, at.cur)
    if (sel.wholeDirs.isEmpty && sel.files.isEmpty)
      return cur // index proves nothing can match
    // the predicate sees the SAME values a read serves (initial defaults
    // included — else a delete on a defaulted column silently misses, or
    // wrongly hits NULL-looking, pre-add rows); positions already in a
    // DV never re-match, which keeps the no-op check and the size guard
    // about LIVE rows only
    val fresh0 = selectionScan(spark, root, m, sel, keepDvCols = true)
      .filter(predicate)
      .select(col("__dv_file"), col("__dv_pos"))
    // ONE candidate scan: the matched pairs persist (spill-safe) for the
    // count guard AND the per-file aggregation; the guard still runs
    // BEFORE any positions reach the driver
    val fresh = fresh0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perFile = try {
      val matched = fresh.count()
      if (matched == 0L) return cur
      require(matched <= maxDeleteRows,
        s"deleteWhereDV matched $matched rows > maxDeleteRows=$maxDeleteRows " +
          "— a delete this dense should rewrite files: use deleteWhere")
      fresh.groupBy("__dv_file")
        .agg(sort_array(collect_list("__dv_pos")).as("__ps"),
          cnt(lit(1)).as("__n"))
        .collect()
    } finally fresh.unpersist()
    val freshBytes: Map[String, Array[Byte]] = perFile.map { r =>
      val f = r.getString(0)
      val add = r.getSeq[Long](1).toArray
      val all = m.dvFor(fs, root, f) match {
        case Some(old) => // both sorted, disjoint (anti-joined): merge
          val out = new Array[Long](old.length + add.length)
          var i = 0; var j = 0; var k = 0
          while (i < old.length && j < add.length) {
            if (old(i) < add(j)) { out(k) = old(i); i += 1 }
            else { out(k) = add(j); j += 1 }
            k += 1
          }
          while (i < old.length) { out(k) = old(i); i += 1; k += 1 }
          while (j < add.length) { out(k) = add(j); j += 1; k += 1 }
          out
        case None => add
      }
      f -> serializeDv(all)
    }.toMap
    at.commit("delete-dv", m.keys) { genDir =>
      carryAll(m).copy(dvBytes = freshBytes, dvRefs = m.dvs -- freshBytes.keys,
        dirVers = {
          // new DV positions HIDE rows: that dir's content changed even
          // though its data files are byte-identical
          val dvDirs = freshBytes.keySet.map { f =>
            f.substring(f.indexOf('/') + 1, f.lastIndexOf('/')) }
          m.dirVers.map { case (rel, tok) =>
            rel -> (if (dvDirs.contains(rel)) genDir else tok) }
        })
    }
  }

  /** GDPR erasure by KEY LIST, merge-on-read: rows whose `column` equals
    * any of `values` are recorded as deletion vectors — the erasure
    * request's natural shape (a batch of subject ids, not a range). The
    * bloom + point-range probes skip every file that provably holds
    * none of the ids, so the candidate scan touches the needles' files
    * only on a bloom-indexed column; the commit writes kilobytes. NULL
    * values are dropped (equality never matches NULL); empty lists are
    * no-ops. Same contracts as [[deleteWhereDV]] otherwise — and the
    * same caveat: PHYSICAL erasure needs the rewrite
    * ([[deleteWhereIn]]) + [[vacuum]]. */
  def deleteWhereInDV(spark: SparkSession, root: String, column: String,
                      values: Seq[Any],
                      maxDeleteRows: Long = 16L * 1024 * 1024): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    require(!m.partCols.contains(column),
      s"$column is a partition column — drop partitions by re-upserting " +
        "or filtering read(), no delete needed")
    val vs = values.filter(_ != null)
    if (vs.isEmpty) at.cur
    else dvDelete(spark, at, constrainedSelection(spark, root, m,
        Seq(ColConstraint(column, None, None, None, inSet = Some(vs))))._2,
      col(column).isin(vs: _*), maxDeleteRows)
  }

  /** GDPR erasure by KEY LIST, physical rewrite: like [[deleteWhereIn
    * DV]] but the candidate dirs REWRITE without the matched rows —
    * the physical-erasure path (deleted bytes leave the data files; pair
    * with [[vacuum]] to retire the old versions). Only dirs whose files
    * survive the bloom/stats probes are read and rewritten; the rest
    * keep byte-identity. */
  def deleteWhereIn(spark: SparkSession, root: String, column: String,
                    values: Seq[Any],
                    fileRows: Option[Int] = None,
                    bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(column),
      s"column $column is not in the table schema")
    require(!m.partCols.contains(column),
      s"$column is a partition column — drop partitions by re-upserting " +
        "or filtering read(), no rewrite needed")
    val vs = values.filter(_ != null)
    // dirs holding any surviving candidate file (or unindexed wholeDirs)
    val touched =
      if (vs.isEmpty) Map.empty[String, String]
      else selectedDirs(root, constrainedSelection(spark, root, m,
        Seq(ColConstraint(column, None, None, None, inSet = Some(vs))))._2)
    if (touched.isEmpty) at.cur // index proves nothing can match
    else rewriteTouched(spark, at, touched, fileRows,
        bloomBits, op = "delete") { df =>
      df.filter(!col(column).isin(vs: _*) || col(column).isNull)
    }
  }

  /** The table-resolved Catalyst expression of an arbitrary predicate
    * Column — analyzed against the committed schema so the optimizer
    * rule's constraint extractor sees typed attributes and literals.
    * Foldable subexpressions are folded to literals first (the analyzed
    * tree is PRE-ConstantFolding): without this, a bound written as
    * `lit("2024-01-08").cast(DateType)` reaches the extractor as
    * `Cast(Literal)` — matched by nothing — and an index-expressible
    * predicate silently degrades to a full-table rewrite. */
  private def resolvedCondition(spark: SparkSession, root: String,
                                m: Manifest,
                                predicate: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef,
      EmptyRow, Literal, RuntimeReplaceable, With}
    val df = readM(spark, root, m).filter(predicate)
    val cond = df.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"predicate did not analyze to a filter: $predicate"))
    // RuntimeReplaceables desugar only at OPTIMIZATION (ReplaceExpressions
    // + RewriteWithExpression) — SQL `BETWEEN` analyzes to between(v, lo,
    // hi) whose replacement is a With(ref >= lo AND ref <= hi) common-
    // subexpression form; without desugaring, extraction sees nothing.
    // Iterated to fixpoint because transformDown does NOT re-apply the
    // rule to a node it just substituted (a Between's replacement IS a
    // With — one pass would leave it opaque, exactly what Spark's two
    // separate optimizer rules paper over). Re-inlining a common-
    // expression def is fine here: the result only feeds fact
    // EXTRACTION, never codegen.
    var desugared = cond
    var changed = true
    var fuel = 10
    while (changed && fuel > 0) {
      val next = desugared.transformDown {
        case r: RuntimeReplaceable => r.replacement
        case w: With =>
          val defs = w.defs.map(d => d.id -> d.child).toMap
          w.child.transform {
            case ref: CommonExpressionRef if defs.contains(ref.id) =>
              defs(ref.id)
          }
      }
      changed = !(next fastEquals desugared)
      desugared = next
      fuel -= 1
    }
    desugared.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(EmptyRow), e.dataType)
    }
  }

  /** Shared preamble of the predicate-expression deletes: resolve the
    * predicate, extract the optimizer rule's sound per-column facts from
    * it, and turn them into the (touched dirs, file selection) the index
    * can prune to. Unextractable predicate shapes prune nothing (every
    * dir touched) — correctness never depends on extraction. */
  private def matchingSelection(spark: SparkSession, root: String,
                                m: Manifest,
                                predicate: org.apache.spark.sql.Column,
                                op: String)
      : (Map[String, String], ScanSelection) = {
    val resolved = resolvedCondition(spark, root, m, predicate)
    require(resolved.deterministic,
      s"$op predicate must be deterministic: $predicate")
    require(!resolved.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"$op predicate must not contain a subquery: $predicate")
    val cs = graft.plans.PruneVersionedScan.extractConstraints(resolved)
    val (_, sel) = constrainedSelection(spark, root, m, cs)
    (selectedDirs(root, sel), sel)
  }

  /** DELETE by ARBITRARY predicate, physical rewrite: rows where
    * `predicate` is TRUE are removed; rows where it is FALSE or NULL
    * survive (SQL DELETE semantics). The predicate resolves against the
    * committed schema and runs through the SAME constraint extraction
    * the optimizer rule uses, so any index-expressible part of it —
    * conjunct ranges, equalities, IN-lists, prefixes, partition-column
    * facts — prunes which dirs rewrite; the full predicate then decides
    * rows. Unextractable shapes (disjunctions across columns, function
    * calls) simply prune nothing and every dir rewrites — correct,
    * loud in cost, never wrong. [[deleteWhere]] (one range) and
    * [[deleteWhereIn]] (one id list) are its one-constraint shapes and
    * select their dirs through the same [[constrainedSelection]]; this
    * takes compound conditions: `deleteMatching(s, root,
    * col("date").between(a, b) && col("source") === "bad")`. */
  def deleteMatching(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     fileRows: Option[Int] = None,
                     bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val (touched, _) = matchingSelection(spark, root, at.m, predicate,
      "DELETE")
    if (touched.isEmpty) at.cur // index proves nothing can match
    else rewriteTouched(spark, at, touched, fileRows,
        bloomBits, op = "delete") { df =>
      df.filter(not(coalesce(predicate, lit(false))))
    }
  }

  /** [[deleteMatching]]'s merge-on-read flavor: the matched positions
    * land in a deletion vector, data files stay byte-identical. Same
    * predicate semantics and index pruning; same [[deleteWhereDV]]
    * contracts (position union, size cap, driver-resident sidecar). */
  def deleteMatchingDV(spark: SparkSession, root: String,
                       predicate: org.apache.spark.sql.Column,
                       maxDeleteRows: Long = 16L * 1024 * 1024): Int =
      commitLoop(spark, root, Rederive) { at =>
    val (_, sel) = matchingSelection(spark, root, at.m, predicate, "DELETE")
    dvDelete(spark, at, sel, predicate, maxDeleteRows)
  }

  /** UPDATE by ARBITRARY predicate — [[deleteMatching]]'s sibling,
    * closing the DML matrix: rows where `predicate` is TRUE get each
    * `set` column replaced (OLD-row right-hand sides, declared-type
    * casts, CHECK gating — [[updateWhere]]'s contract); FALSE/NULL rows
    * and index-cleared dirs keep byte-identity. Same constraint-
    * extraction pruning as deleteMatching. */
  def updateMatching(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     fileRows: Option[Int] = None,
                     bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    requireSet(at.m, set)
    val (touched, _) = matchingSelection(spark, root, at.m, predicate,
      "UPDATE")
    if (touched.isEmpty) at.cur // index proves nothing can match
    else updateCore(spark, at, touched, predicate, set, fileRows, bloomBits)
  }

  /** Per-file deletion-vector footprint of the current (or as-of)
    * version: (file key, deleted-row count) — the signal a maintenance
    * scheduler uses to decide when accumulated DVs justify a
    * [[compactSmallFiles]]/[[compact]] materialization. Metadata-only. */
  def dvStats(spark: SparkSession, root: String,
              asOfVersion: Option[Int] = None): Seq[(String, Long)] =
    resolveManifest(spark, root, asOfVersion).dvs.toSeq
      .map { case (f, (_, _, _, n)) => (f, n) }.sortBy(_._1)

  /** Index coverage of a manifest: (stats columns, bloom columns) any
    * data file carries, partition columns excluded — what the SQL
    * maintenance surfaces (OPTIMIZE, MERGE INTO) rebuild so a rewrite
    * preserves the index family without the caller re-declaring it.
    * The same inference [[rewriteTouched]] applies per touched dir. */
  private[graft] def coveredIndexCols(m: Manifest)
      : (Seq[String], Seq[String]) = {
    // coverage reads off the #diridx col lists — zero sidecar I/O
    def covered(cols: IdxRef => Seq[String]) =
      m.idxRefs.valuesIterator.flatMap(cols).toSeq.distinct
        .filter(m.schema.fieldNames.contains).filterNot(m.partCols.contains)
    (covered(_.statCols), covered(_.bloomCols))
  }

  /** A write was rejected because rows violate a registered CHECK
    * constraint — nothing was staged or committed. */
  class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Rows of `df` violating `sql` under SQL CHECK semantics: a NULL
    * predicate PASSES (unknown ≠ violation, the ANSI rule), only
    * definite FALSE rejects. */
  private def violations(df: DataFrame, sql: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.filter(not(coalesce(expr(sql), lit(true))))
  }

  private def enforceChecks(df: DataFrame, checks: Map[String, String],
                            what: String): Unit =
    checks.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad = violations(df, sql).limit(1).count()
      if (bad > 0)
        throw new ConstraintViolationException(
          s"$what violates CHECK constraint $name ($sql)")
    }

  /** Register a named CHECK constraint (ANSI semantics: NULL passes,
    * definite FALSE rejects) that every subsequent [[upsert]] delta and
    * [[updateWhere]] result must satisfy — Delta's table-constraint
    * idea. The CURRENT table is validated first (one scan): a table
    * already in violation refuses the constraint. The registration
    * itself is a metadata-only commit carried through every later
    * version like the txn watermarks. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    sql: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(!m.checks.contains(name), s"constraint $name already exists")
    // the expression must at least resolve against the schema
    spark.sessionState.sqlParser.parseExpression(sql)
    enforceChecks(readM(spark, root, m), Map(name -> sql),
      s"existing data at $root")
    at.commit("add-constraint", m.keys) { _ =>
      carryAll(m).copy(checks = m.checks + (name -> sql))
    }
  }

  /** Deregister a CHECK constraint — metadata-only commit. */
  def dropConstraint(spark: SparkSession, root: String,
                     name: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.checks.contains(name), s"constraint $name does not exist")
    at.commit("drop-constraint", m.keys) { _ =>
      carryAll(m).copy(checks = m.checks - name)
    }
  }

  /** The registered CHECK constraints of the current (or as-of)
    * version: name -> SQL predicate. */
  def constraintsOf(spark: SparkSession, root: String,
                    asOfVersion: Option[Int] = None): Map[String, String] =
    resolveManifest(spark, root, asOfVersion).checks

  /** Set (upsert) table properties — metadata-only commit, carried
    * verbatim through every subsequent commit like the CHECK registry.
    * Reserved keys the engine itself honors: `graft.retain.versions`
    * ([[maintain]]'s vacuum window). */
  def setProperties(spark: SparkSession, root: String,
                    kvs: Map[String, String]): Int =
      commitLoop(spark, root, Rederive) { at =>
    require(kvs.nonEmpty, "no properties given")
    // reserved keys the engine acts on validate AT SET TIME: a bad
    // value crashing every later maintenance run (after its compaction
    // steps already committed) is the worst possible place to find out
    kvs.get("graft.retain.versions").foreach { v =>
      require(scala.util.Try(v.trim.toInt).toOption.exists(_ >= 1),
        s"graft.retain.versions must be an integer >= 1: '$v'")
    }
    // expectation entries must parse NOW — a malformed injected property
    // would otherwise crash every later ingest's gate
    if (kvs.keys.exists(_.startsWith("graft.expect.")))
      Expectations.fromProps(kvs)
    val m = at.m
    at.commit("set-properties", m.keys) { _ =>
      carryAll(m).copy(props = m.props ++ kvs)
    }
  }

  /** Remove table properties — metadata-only commit; absent keys are a
    * no-op removal (idempotent). */
  def unsetProperties(spark: SparkSession, root: String,
                      ks: Seq[String]): Int =
      commitLoop(spark, root, Rederive) { at =>
    require(ks.nonEmpty, "no property keys given")
    val m = at.m
    at.commit("unset-properties", m.keys) { _ =>
      carryAll(m).copy(props = m.props -- ks)
    }
  }

  /** The table properties of the current (or as-of) version. */
  def propertiesOf(spark: SparkSession, root: String,
                   asOfVersion: Option[Int] = None): Map[String, String] =
    resolveManifest(spark, root, asOfVersion).props

  // ----- derived (hidden) partitioning ------------------------------
  // Iceberg's partition-transform idea on the manifest protocol: a
  // partition column DECLARED as a pure function of a data column
  // (day(ts), bucket(id)) lets every predicate on the NATURAL column
  // prune partition dirs automatically — the query author never names
  // the partition column. The derived column stays physically real
  // (partCols ⊆ merge keys and all dir machinery unchanged); what the
  // registration adds is (a) a write-time invariant partCol ==
  // transform(srcCol), enforced through the same machinery as CHECK
  // constraints, and (b) constraint IMPLICATION in the scan's file
  // selection: src-column facts map into partition-column facts (range
  // bounds through monotone day(); equality/IN through both transforms).

  private val BucketKind = """bucket:(\d+)""".r

  /** SQL right-hand side computing the transform of `src` — UTC floor
    * arithmetic on epoch-µs for `day` (session-timezone-independent, so
    * driver-side literal mapping can never disagree with it), Spark's
    * xxhash64 for `bucket:N` (the same hash the bloom probes evaluate
    * driver-side via xxh64Of). */
  private def derivedRhsSql(kind: String, src: String): String = kind match {
    case "day" =>
      s"date_from_unix_date(CAST((unix_micros(`$src`) - " +
        s"pmod(unix_micros(`$src`), 86400000000)) div 86400000000 AS INT))"
    case BucketKind(n) => s"CAST(pmod(xxhash64(`$src`), $n) AS INT)"
    case other => throw new IllegalArgumentException(
      s"unknown partition transform: $other (supported: day, bucket:N)")
  }

  private def derivedSqlExpr(kind: String, p: String, src: String): String =
    s"`$p` <=> ${derivedRhsSql(kind, src)}"

  /** The write-time invariants the registrations impose, in CHECK form —
    * every enforcement site treats them exactly like user constraints. */
  private def derivedChecks(m: Manifest): Map[String, String] =
    m.derived.map { case (p, (kind, src)) =>
      s"__derived_$p" -> derivedSqlExpr(kind, p, src) }

  /** The Column a writer uses to populate a derived partition column
    * before [[upsert]]: `df.withColumn("day",
    * derivedPartitionColumn("day", "ts"))`. */
  def derivedPartitionColumn(transform: String, srcCol: String)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(derivedRhsSql(transform, srcCol))

  /** Register `partCol` as `transform(srcCol)` — metadata-only commit
    * after validating the EXISTING data satisfies the invariant (like
    * [[addConstraint]]'s backlog check). Transforms: `day` (TimestampType
    * src → DateType part, UTC) and `bucket:N` (xxhash64 pmod N →
    * IntegerType part). From then on (a) every write must satisfy
    * partCol == transform(srcCol) and (b) predicates on `srcCol` prune
    * partition DIRS through the registration — range bounds map through
    * the monotone day() floor, equality and IN map through both,
    * IsNull/IsNotNull map through day() (null-propagating; bucket
    * hashes NULL to a bucket, so null facets do not map there). */
  def addDerivedPartition(spark: SparkSession, root: String,
                          partCol: String, transform: String,
                          srcCol: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.types.{DateType, IntegerType, TimestampType}
    val m = at.m
    require(m.partCols.contains(partCol),
      s"$partCol is not a partition column (layout: ${m.partCols.mkString(",")})")
    require(m.schema.fieldNames.contains(srcCol),
      s"source column $srcCol is not in the table schema")
    require(!m.partCols.contains(srcCol),
      s"source column $srcCol is itself a partition column")
    require(!m.derived.contains(partCol),
      s"$partCol already has a derived-partition registration")
    transform match {
      case "day" =>
        require(m.schema(srcCol).dataType == TimestampType,
          s"day() needs a TimestampType source; $srcCol is " +
            m.schema(srcCol).dataType.simpleString)
        require(m.schema(partCol).dataType == DateType,
          s"day() populates a DateType partition column; $partCol is " +
            m.schema(partCol).dataType.simpleString)
      case BucketKind(n) =>
        require(n.toInt > 0, s"bucket count must be positive: $n")
        require(m.schema(partCol).dataType == IntegerType,
          s"bucket() populates an IntegerType partition column; $partCol " +
            s"is ${m.schema(partCol).dataType.simpleString}")
      case other => throw new IllegalArgumentException(
        s"unknown partition transform: $other (supported: day, bucket:N)")
    }
    // backlog: the registration is a fact about ALL data, not just
    // future writes — validate it like addConstraint does
    enforceChecks(readM(spark, root, m),
      Map(s"derived $partCol" -> derivedSqlExpr(transform, partCol, srcCol)),
      s"existing data at $root")
    at.commit("add-derived-partition", m.keys) { _ =>
      carryAll(m).copy(
        derived = m.derived + (partCol -> ((transform, srcCol))))
    }
  }

  /** Deregister a derived partition — metadata-only commit; the column
    * keeps its values, queries just stop mapping src predicates. */
  def dropDerivedPartition(spark: SparkSession, root: String,
                           partCol: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.derived.contains(partCol),
      s"$partCol has no derived-partition registration")
    at.commit("drop-derived-partition", m.keys) { _ =>
      carryAll(m).copy(derived = m.derived - partCol)
    }
  }

  /** The registrations of the current (or as-of) version:
    * partCol -> (transform, srcCol). */
  def derivedPartitionsOf(spark: SparkSession, root: String,
                          asOfVersion: Option[Int] = None)
      : Map[String, (String, String)] =
    resolveManifest(spark, root, asOfVersion).derived

  /** Per-partition metadata of the current (or as-of) version, straight
    * from the manifest — the Iceberg-metadata-table idea: `partition`
    * (rel dir), `generation` (physical), `content` (the token that last
    * CHANGED the dir's rows — equal tokens across versions ⇒ equal
    * content), `rows`/`files`/`bytes` (physical counts), and
    * `dv_deleted` (merge-on-read rows hidden by deletion vectors). Zero data I/O; also served as the
    * `graft_partitions('/root'[, version])` SQL table function. */
  def partitionsMeta(spark: SparkSession, root: String,
                     asOfVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val m = resolveManifest(spark, root, asOfVersion)
    val rows = m.mapping.toSeq.sortBy(_._1).map { case (rel, gen) =>
      val dvDel = m.dvs.iterator
        .filter(_._1.startsWith(s"$gen/$rel/")).map(_._2._4).sum
      org.apache.spark.sql.Row(rel, gen, m.dirVers(rel), m.dirRows(rel),
        m.dirFiles(rel), m.dirBytes(rel), dvDel)
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("partition", StringType, nullable = false),
        StructField("generation", StringType, nullable = false),
        StructField("content", StringType, nullable = false),
        StructField("rows", LongType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("dv_deleted", LongType, nullable = false))))
  }

  /** Per-file index metadata of the current (or as-of) version — the
    * Iceberg `files` metadata table: every INDEXED file's manifest key,
    * its partition dir and generation, DV-deleted row count, and the
    * per-column min/max/null-count stats as a map (rendered forms — see
    * [[renderStat]]; dates are epoch-days, timestamps epoch-µs). Files
    * in dirs written without statsCols carry no index and don't appear;
    * `graft_partitions` covers every dir. Zero data I/O; also served as
    * the `graft_files('/root'[, version])` SQL table function. */
  def filesMeta(spark: SparkSession, root: String,
                asOfVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val m = resolveManifest(spark, root, asOfVersion)
    val fs = fsFor(spark, root)
    val (allStats, allBlooms) = m.materializeIdx(fs, root)
    val liveDirs = m.mapping.toSeq.map { case (rel, gen) =>
      s"$gen/$rel/" -> ((rel, gen)) }.toMap
    def dirOf(f: String) = f.substring(0, f.lastIndexOf('/') + 1)
    val keys = (allStats.keySet ++ allBlooms.keySet ++ m.dvs.keySet)
      .toSeq.sorted
    val rows = keys.flatMap { f =>
      liveDirs.get(dirOf(f)).map { case (rel, gen) =>
        val st = allStats.getOrElse(f, Map.empty)
        val statMap = st.map { case (c, cs) =>
          c -> org.apache.spark.sql.Row(cs.min.orNull, cs.max.orNull,
            cs.nulls) }
        org.apache.spark.sql.Row(f, rel, gen,
          java.lang.Long.valueOf(m.dvs.get(f).map(_._4).getOrElse(0L)),
          scala.collection.immutable.Map(statMap.toSeq: _*),
          allBlooms.getOrElse(f, Map.empty).keys.toSeq.sorted)
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("partition", StringType, nullable = false),
        StructField("generation", StringType, nullable = false),
        StructField("dv_deleted", LongType, nullable = false),
        StructField("stats", MapType(StringType, StructType(Seq(
          StructField("min", StringType, nullable = true),
          StructField("max", StringType, nullable = true),
          StructField("nulls", LongType, nullable = false))),
          valueContainsNull = false), nullable = false),
        StructField("bloom_cols", ArrayType(StringType, containsNull = false),
          nullable = false))))
  }

  /** Epoch-µs of a timestamp-domain literal in any form the engine's
    * stat rendering accepts; None = unmappable (no implied pruning). */
  private def microsOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l) // Catalyst-internal timestamp micros
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * 86400000000L)
    case d: java.time.LocalDate => Some(d.toEpochDay * 86400000000L)
    case _ => None
  }

  private def dayOfLiteral(v: Any): Option[java.time.LocalDate] =
    Option(v).flatMap(microsOf).map(us =>
      java.time.LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L)))

  private def bucketOfLiteral(v: Any, dt: DataType, n: Int): Option[Int] =
    Option(v).flatMap(xxh64Of(_, dt)).map(h => (((h % n) + n) % n).toInt)

  /** The partition-column constraint a src-column constraint IMPLIES
    * under a registration — each facet maps only when provably sound:
    * day() is monotone (range bounds map inclusively) and
    * null-propagating (null facets map); bucket() maps equality and IN
    * only. An unmappable range bound just drops (less pruning, never
    * wrong); an unmappable eq/IN value drops ITS facet entirely (a dir
    * holding that value must survive). notEq/prefix never map. */
  private def impliedPartConstraint(m: Manifest, p: String, kind: String,
                                    src: String, c: ColConstraint)
      : Option[ColConstraint] = {
    val srcDt = m.schema(src).dataType
    def allOrNothing(vs: Seq[Any], f: Any => Option[Any])
        : Option[Seq[Any]] = {
      val mapped = vs.map(f)
      if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
    }
    val mapped = kind match {
      case "day" =>
        val d = (v: Any) => dayOfLiteral(v): Option[Any]
        ColConstraint(p,
          lower = c.lower.flatMap(d), upper = c.upper.flatMap(d),
          eq = c.eq.flatMap(d),
          inSet = c.inSet.flatMap(allOrNothing(_, d)),
          notNull = c.notNull, isNull = c.isNull)
      case BucketKind(nStr) =>
        val n = nStr.toInt
        val b = (v: Any) => bucketOfLiteral(v, srcDt, n): Option[Any]
        ColConstraint(p, None, None,
          eq = c.eq.flatMap(b),
          inSet = c.inSet.flatMap(allOrNothing(_, b)))
      case _ => ColConstraint(p, None, None, None)
    }
    if (mapped.nonNullFacet || mapped.isNull) Some(mapped) else None
  }

  /** Incremental change consumer — the warehouse-sync loop the reference
    * re-runs as a FULL MERGE every cycle (load_to_snowflake.py:212-231),
    * made change-volume-sized: compute the feed from the last synced
    * version (cursor file at `cursorPath`) to the current one, hand it to
    * `apply`, and advance the cursor only AFTER apply returns — a crash
    * in between re-delivers the same transition next call (at-least-once;
    * pair with an idempotent apply, e.g. a keyed MERGE). First call
    * delivers the whole current table as op='insert' rows (CDC initial
    * load). Returns the (from, to) versions synced, None when already
    * current. The consumed versions must still be retained — size
    * [[vacuum]]'s window to the sync cadence. */
  /** Cursor crash recovery shared by the single- and multi-table sync
    * legs: a complete `.tmp` left by a death between delete-old and
    * promote is promoted now (the .tmp is only deleted AFTER its
    * promote, so presence with no cursor normally means a complete
    * value) — but a tmp that fails `valid` is a TORN first-cycle write
    * (the crash hit mid-write before any cursor ever existed) and is
    * deleted instead: promoting it would wedge every later call on the
    * parse, while dropping it just replays the idempotent first cycle. */
  private[graft] def recoverCursor(fs: FileSystem, cp: Path, tmp: Path,
                                   valid: String => Boolean): Unit =
    if (!fs.exists(cp) && fs.exists(tmp)) {
      val txt = {
        val in = fs.open(tmp)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          StandardCharsets.UTF_8)
        finally in.close()
      }
      if (!valid(txt)) fs.delete(tmp, false)
      else if (!fs.rename(tmp, cp))
        throw new java.io.IOException(s"cursor recovery rename failed: $tmp")
    }

  def syncChanges(spark: SparkSession, root: String, keys: Seq[String],
                  cursorPath: String,
                  maxVersions: Int = Int.MaxValue)(apply: DataFrame => Unit)
      : Option[(Int, Int)] = {
    import org.apache.spark.sql.functions.lit
    require(maxVersions >= 1, s"maxVersions must be >= 1: $maxVersions")
    val fs = fsFor(spark, cursorPath)
    val cp = new Path(cursorPath)
    val tmp = new Path(cursorPath + ".tmp")
    recoverCursor(fs, cp, tmp,
      txt => txt.trim.toIntOption.isDefined)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    val last: Option[Int] =
      if (!fs.exists(cp)) None
      else {
        val in = fs.open(cp)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          StandardCharsets.UTF_8).trim.toInt)
        finally in.close()
      }
    if (last.contains(cur)) return None
    // bounded catch-up: a consumer down for many producer commits syncs
    // at most `maxVersions` transitions per call (bounded diff size and
    // apply batch); the caller loops until this returns None to drain.
    // The target MUST still be committed — being behind by more than the
    // vacuum retention window is unrecoverable regardless of the cap
    // long arithmetic: f + Int.MaxValue (the default cap) overflows Int
    val to = last.map(f =>
      math.min(cur.toLong, f.toLong + maxVersions).toInt).getOrElse(cur)
    // smallQuery: change-sized feeds plan statically (see the
    // multi-table leg's note); table-sized initial loads keep AQE
    val feed = smallQuery(last match {
      case None =>
        // PINNED to the version the cursor will record: a concurrent
        // commit between here and materialization must not make the
        // snapshot newer than the cursor (the next cycle would re-deliver
        // ops the consumer never saw the base for)
        val t = read(spark, root, Some(to))
        t.select(lit("insert").as("op") +: t.columns.map(col): _*)
      case Some(from) => changeFeed(spark, root, keys, from, to)
    })
    apply(feed)
    // write-new-then-promote: the cursor file is never truncated in
    // place, so a crash at ANY point leaves either the old value, or a
    // complete .tmp the next call promotes — never an empty/partial
    // cursor that bricks the consumer
    fs.delete(tmp, false)
    val out = fs.create(tmp, false)
    try out.write(to.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(cp, false)
    if (!fs.rename(tmp, cp))
      throw new java.io.IOException(s"cursor promote rename failed: $tmp")
    Some((last.getOrElse(-1), to))
  }

  /** OPTIMIZE-style maintenance: rewrite the CURRENT version's data into
    * a fresh generation with ONE file per partition and commit it as a
    * new version. Row-identical by construction (the new version is a
    * read() of the old, re-laid-out); prior versions stay readable via
    * `asOfVersion` until vacuumed, exactly like any upsert. Run it after
    * many small pruned upserts have accumulated a file-per-merge in hot
    * partitions — the small-files tax that at 100 TB turns every scan
    * into a metadata storm. The rewrite costs O(|table|) I/O ONCE,
    * against every subsequent scan paying the file-count overhead; the
    * commit protocol (claim → stage → marker) is the same as
    * [[prepare]]/[[publish]], so compaction never blocks readers and a
    * crash mid-compact leaves only orphans for [[vacuum]].
    *
    * `zOrderCols` is OPTIMIZE ZORDER BY: instead of the lexicographic
    * statsCols sort, rows cluster on the interleaved z-value of the named
    * (numeric) columns — [[ZOrder.withZValueN]] with table-derived bounds
    * — so each written file carries a TIGHT min/max box on EVERY z
    * dimension at once, and [[readWhere]]/[[readWhereIn]] on any of them
    * keeps skipping after compaction (a lexicographic sort only keeps the
    * FIRST column's ranges tight; without either, compaction silently
    * destroys the file clustering the index family depends on). Stats
    * still collect on `statsCols` — pass the z dimensions there too. */
  def compact(spark: SparkSession, root: String,
              statsCols: Seq[String] = Nil,
              fileRows: Option[Int] = None,
              bloomCols: Seq[String] = Nil,
              bloomBits: Long = 0L,
              zOrderCols: Seq[String] = Nil): Int =
      commitLoop(spark, root, Rederive) { at =>
    val (fs, cur, m) = (at.fs, at.cur, at.m)
    (statsCols ++ bloomCols ++ zOrderCols).foreach(c =>
      require(!m.partCols.contains(c),
        s"stats column $c is a partition column"))
    at.commit("compact", m.keys) { genDir =>
      val sparkW = commitSession(spark,
        Some(dirsBytes(m, m.mapping.keysIterator)))
      // the rewrite writes CURRENT logical names — renames materialize,
      // the column mapping drops
      val schema = stripPhysical(m.schema)
      val (written, (stats, blooms, dirRows, dirFiles, dirBytes)) =
        writeGeneration(fs, sparkW, root, at.next, genDir,
          read(spark, root, Some(cur)), m.partCols, m.keys, schema,
          statsCols, bloomCols, bloomBits, fileRows, zOrderCols)
      Staged(m.partCols, schema,
        written.map(_ -> genDir).toMap, stats, blooms, m.txns,
        checks = m.checks, dirRows = dirRows, dirFiles = dirFiles,
        dirBytes = dirBytes, derived = m.derived,
        // full-table rewrite, logical rows preserved (DVs were applied
        // at read before, materialized now): tokens carry
        dirVers = written.map(rel => rel -> m.dirVers(rel)).toMap,
        idxRefs = Map.empty, props = m.props)
    }
  }

  /** Incremental OPTIMIZE: rewrite ONLY partitions that accumulated
    * `minFilesPerDir` or more data files (many small pruned upserts →
    * a file per merge — the small-files tax), leaving every other dir's
    * mapping, bytes, and index entries untouched — O(|hot partitions|)
    * I/O instead of [[compact]]'s O(|table|). File counts come from the
    * manifest's #dirfiles; stats/bloom coverage for the rewritten dirs
    * is re-derived from what their files carried (same inference as
    * [[deleteWhere]]), so the index family survives. A run where no dir
    * qualifies commits NOTHING (returns the current version — no version
    * burned by a scheduled no-op). `zOrderCols` re-clusters the
    * rewritten dirs like [[compact]]'s. */
  def compactSmallFiles(spark: SparkSession, root: String,
                        minFilesPerDir: Int,
                        fileRows: Option[Int] = None,
                        bloomBits: Long = 0L,
                        zOrderCols: Seq[String] = Nil): Int =
      commitLoop(spark, root, Rederive) { at =>
    require(minFilesPerDir >= 2, s"minFilesPerDir must be >= 2")
    val m = at.m
    val touched = m.mapping.filter { case (rel, _) =>
      m.dirFiles(rel) >= minFilesPerDir }
    if (touched.isEmpty) at.cur
    else rewriteTouched(spark, at, touched, fileRows, bloomBits,
      zOrderCols, contentChanging = false, op = "compact-files")(identity)
  }

  /** Targeted deletion-vector materialization: rewrite ONLY dirs whose
    * DV density (deleted / physical rows) reaches `minFraction` —
    * bounded-I/O reclamation of the scan tax sparse deletes accumulate,
    * without [[compact]]'s O(|table|). Returns the new version (current
    * unchanged when nothing qualifies). */
  def materializeDvs(spark: SparkSession, root: String,
                     minFraction: Double = 0.1,
                     fileRows: Option[Int] = None,
                     bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    require(minFraction > 0 && minFraction <= 1,
      s"minFraction must be in (0, 1]: $minFraction")
    val m = at.m
    val dvByDir = dvCountsByDir(m)
    val touched = m.mapping.filter { case (rel, _) =>
      dvByDir.getOrElse(rel, 0L) > 0L && m.dirRows(rel) > 0 &&
        dvByDir(rel).toDouble / m.dirRows(rel) >= minFraction
    }
    if (touched.isEmpty) at.cur
    else rewriteTouched(spark, at, touched, fileRows,
      bloomBits, contentChanging = false, op = "materialize-dv")(identity)
  }

  /** What [[maintain]] did: the versions its steps committed (None =
    * that step proved a no-op and committed nothing). */
  case class MaintenanceReport(compactedSmallFiles: Option[Int],
                               materializedDvs: Option[Int])

  /** One-call scheduled maintenance — the policy a cron'd OPTIMIZE job
    * runs: (1) [[compactSmallFiles]] on dirs at/over `maxFilesPerDir`
    * data files (the small-files tax of frequent pruned upserts), (2)
    * [[materializeDvs]] on dirs at/over `maxDvFraction` deleted (the
    * scan tax of accumulated merge-on-read deletes), (3) [[vacuum]] to
    * `keepVersions`. Every step is a provable no-op when its trigger
    * isn't met — an idle table costs two manifest reads and commits
    * NOTHING, so the job can run on a tight cadence. */
  def maintain(spark: SparkSession, root: String,
               maxFilesPerDir: Int = 16,
               maxDvFraction: Double = 0.1,
               keepVersions: Int = 3,
               fileRows: Option[Int] = None,
               bloomBits: Long = 0L,
               zOrderCols: Seq[String] = Nil): MaintenanceReport = {
    val before1 = currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    val v1 = compactSmallFiles(spark, root, maxFilesPerDir, fileRows,
      bloomBits, zOrderCols)
    val v2 = materializeDvs(spark, root, maxDvFraction, fileRows, bloomBits)
    // the table's declared retention policy wins over the call-site
    // default: one maintenance job serves many tables, each with its
    // own `graft.retain.versions`
    val keep = declaredRetention(spark, root).getOrElse(keepVersions)
    vacuum(spark, root, keep)
    MaintenanceReport(
      compactedSmallFiles = Some(v1).filter(_ > before1),
      materializedDvs = Some(v2).filter(_ > v1))
  }

  /** Partition-layout evolution: rewrite the CURRENT version under NEW
    * partition columns and commit it as a new version — the operation a
    * lake needs when the query pattern changes (e.g. (date) → (date,
    * source) once per-source increments become the hot path). Same
    * claim → stage → marker protocol as [[compact]]: readers never
    * block, prior versions (and their old layout) stay time-travel
    * readable until vacuumed, a crash leaves only orphans. Subsequent
    * [[upsert]]s must use the new `partCols` (prepare checks against the
    * committed layout). Costs O(|table|) ONCE — the point is to stop
    * paying wrong-layout scan costs forever after. Optional stats/bloom
    * re-indexing rides along like compact's. */
  def repartitionTable(spark: SparkSession, root: String,
                       partCols: Seq[String],
                       statsCols: Seq[String] = Nil,
                       fileRows: Option[Int] = None,
                       bloomCols: Seq[String] = Nil,
                       bloomBits: Long = 0L): Int =
      commitLoop(spark, root, Rederive) { at =>
    require(partCols.nonEmpty, "at least one partition column")
    val (fs, cur, m) = (at.fs, at.cur, at.m)
    partCols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"partition column $c is not in the table schema"))
    (statsCols ++ bloomCols).foreach(c => require(!partCols.contains(c),
      s"stats column $c is a partition column"))
    at.commit("repartition", m.keys) { genDir =>
      val sparkW = commitSession(spark,
        Some(dirsBytes(m, m.mapping.keysIterator)))
      // full rewrite under logical names: renames materialize here too
      val schema = stripPhysical(m.schema)
      val (written, (stats, blooms, dirRows, dirFiles, dirBytes)) =
        writeGeneration(fs, sparkW, root, at.next, genDir,
          read(spark, root, Some(cur)), partCols, m.keys, schema,
          statsCols, bloomCols, bloomBits, fileRows)
      Staged(partCols, schema,
        written.map(_ -> genDir).toMap, stats, blooms, m.txns,
        checks = m.checks, dirRows = dirRows, dirFiles = dirFiles,
        dirBytes = dirBytes,
        // a registration for a partition column the new layout dropped
        // cannot survive the layout change
        derived = m.derived.filter { case (p, _) => partCols.contains(p) },
        // dir names are incomparable across a layout change: fresh
        // tokens force a (correct) full diff for feeds spanning it
        dirVers = written.map(_ -> genDir).toMap,
        idxRefs = Map.empty, props = m.props)
    }
  }

  /** Time-travel ROLLBACK as a ZERO-COPY commit (Delta RESTORE): commit
    * version `toVersion`'s mapping/schema/stats/blooms/dir-counts as a
    * NEW version. Pure metadata — no data file moves, whatever the table
    * size; the restored generation dirs are re-referenced by the new
    * manifest, which also re-pins them against [[vacuum]] (liveness is
    * computed from retained manifests' mappings). History stays
    * append-only: the bad versions remain time-travel readable until
    * vacuumed, exactly like any other superseded version.
    *
    * Per-stream txn watermarks keep the CURRENT manifest's values, not
    * the restored version's: restore undoes DATA, not exactly-once
    * delivery state — a replayed (streamId, batchId) must still read as
    * committed afterwards or the stream would double-apply. `toVersion`
    * must still be retained (not vacuumed). */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int =
      commitLoop(spark, root, Rederive) { at =>
    val curM = at.m
    require(history(spark, root).contains(toVersion),
      s"version $toVersion is not committed (or was vacuumed) at $root")
    val target = readManifest(at.fs, root, toVersion)
    val curTxns = curM.txns
    // constraints are table GOVERNANCE, not data: a rollback keeps the
    // current rules (like the txn watermarks) — which means the RESTORED
    // data must satisfy them, or the table would silently end up both
    // constrained and in violation (e.g. restore to a version predating
    // the cleanup that made addConstraint's backlog validation pass).
    // One scan, only when constraints exist; a violation aborts the
    // restore before anything stages.
    if ((curM.checks ++ derivedChecks(curM)).nonEmpty)
      enforceChecks(readM(spark, root, target),
        curM.checks ++ derivedChecks(curM),
        s"restore target v$toVersion at $root")
    at.commit(s"restore:v$toVersion", curM.keys) { _ =>
      carryAll(target).copy(txns = curTxns, checks = curM.checks,
        derived = curM.derived, props = curM.props)
    }
  }

  /** Metadata-only COUNT(*): the table's exact row count from the
    * manifest's per-dir counts — zero data I/O at any table size (the
    * Delta/Iceberg snapshot-count trick). Always Some: every mapped dir
    * carries its count. */
  def fastCount(spark: SparkSession, root: String,
                asOfVersion: Option[Int] = None): Option[Long] =
    Some(manifestCount(resolveManifest(spark, root, asOfVersion)))

  /** Pure-manifest half of [[fastCount]] — no I/O; also called by the
    * optimizer fold on a pinned manifest. */
  private[graft] def manifestCount(m: Manifest): Long = {
    // dir counts are PHYSICAL rows; merge-on-read deletes subtract
    // exactly (a carried DV always references a live file, but the
    // live-prefix filter double-guards against a drifted manifest)
    val live = m.mapping.toSeq.map { case (rel, gen) => s"$gen/$rel/" }.toSet
    val deleted = m.dvs.iterator.collect {
      case (f, (_, _, _, n))
          if { val d = f.lastIndexOf('/')
               d > 0 && live.contains(f.substring(0, d + 1)) } => n
    }.sum
    m.mapping.keysIterator.map(m.dirRows).sum - deleted
  }

  /** Metadata-only table size: exact data bytes from the manifest's
    * per-dir byte counts (always Some). Powers the relation's
    * sizeInBytes statistic (broadcast and runtime-filter decisions) and
    * capacity dashboards. DV'd tables report PHYSICAL bytes — the scan
    * cost, which is what a size statistic means. */
  def tableSize(spark: SparkSession, root: String,
                asOfVersion: Option[Int] = None): Option[Long] =
    Some(manifestSizeBytes(resolveManifest(spark, root, asOfVersion)))

  /** Pure-manifest half of [[tableSize]] — no I/O; also the optimizer
    * statistic on the pinned relation. */
  private[graft] def manifestSizeBytes(m: Manifest): Long =
    m.mapping.keysIterator.map(m.dirBytes).sum

  /** Metadata-only MIN/MAX of a stats-indexed column — folds over the
    * manifest's per-file min/max instead of scanning, zero data I/O.
    * Sound only when coverage is PROVABLE: every file of every live dir
    * (#dirfiles counts them) needs a stat for the column recorded under
    * the column's CURRENT type — one
    * uncovered or type-evolved file returns None (callers fall back to
    * an aggregate scan; correctness never depends on coverage). Files
    * whose stat records no min/max are all-null for the column: they
    * count toward coverage and contribute no value; a covered table with
    * only such files answers Some((null, null)), exactly the aggregate's
    * answer. Values return as external Scala values of the column type;
    * NaN ordering matches Spark's aggregate (NaN greatest). Partition
    * columns are not file-stat-indexed → None (their min/max is a dir
    * listing, not a scan, anyway). */
  def fastMinMax(spark: SparkSession, root: String, column: String,
                 asOfVersion: Option[Int] = None): Option[(Any, Any)] =
    manifestMinMax(fsFor(spark, root), root,
      resolveManifest(spark, root, asOfVersion), column)

  /** Manifest half of [[fastMinMax]]; also called by the optimizer fold
    * on a pinned manifest — per-dir index blocks load lazily and cache
    * on the Manifest instance, so repeated plan compilations against a
    * pinned relation pay the slice reads once. */
  private[graft] def manifestMinMax(fs: FileSystem, root: String,
                                    m: Manifest,
                                    column: String): Option[(Any, Any)] =
    manifestMinMaxDirs(fs, root, m, column, _ => true)

  /** [[manifestMinMax]] restricted to the dirs `keep` selects — the
    * partition-filtered fold's MIN/MAX over surviving dirs only. Same
    * provable-coverage contract, applied per kept dir. */
  private[graft] def manifestMinMaxDirs(fs: FileSystem, root: String,
                                        m: Manifest, column: String,
                                        keep: String => Boolean)
      : Option[(Any, Any)] = {
    if (!m.schema.fieldNames.contains(column) ||
        m.partCols.contains(column)) return None
    val dt = m.schema(column).dataType
    val ord = statOrdering(dt).getOrElse(return None)
    val dtJson = dt.json
    var lo: Option[String] = None
    var hi: Option[String] = None
    for ((rel, gen) <- m.mapping if keep(rel)) {
      val prefix = s"$gen/$rel/"
      // a deletion vector breaks the fold: the deleted row may BE the
      // recorded extremum — conservative None, the aggregate scans
      if (m.dvs.keysIterator.exists(_.startsWith(prefix))) return None
      val covered = m.blockFor(fs, root, rel)._1.iterator
        .filter(_._1.startsWith(prefix))
        .flatMap { case (_, cols) => cols.get(column) }
        .filter(_.dtJson.contains(dtJson))
        .toSeq
      if (covered.length != m.dirFiles(rel)) return None
      covered.foreach { st =>
        st.min.foreach(v => if (lo.forall(ord(v, _) < 0)) lo = Some(v))
        st.max.foreach(v => if (hi.forall(ord(v, _) > 0)) hi = Some(v))
      }
    }
    Some((lo.flatMap(parseStat(dt, _)).orNull,
      hi.flatMap(parseStat(dt, _)).orNull))
  }

  /** Metadata-only COUNT(column) — total rows minus the recorded per-file
    * null counts, under the SAME provable-coverage check as
    * [[manifestMinMax]] (every file of every dir carries a current-type
    * stat). Null counts are type-independent,
    * but the type-tag requirement stays: a column dropped and re-added
    * under a different type would otherwise reuse stale counts. */
  private[graft] def manifestNonNullCount(fs: FileSystem, root: String,
                                          m: Manifest,
                                          column: String): Option[Long] =
    manifestNonNullCountDirs(fs, root, m, column, _ => true)

  /** [[manifestNonNullCount]] restricted to the dirs `keep` selects. */
  private[graft] def manifestNonNullCountDirs(fs: FileSystem, root: String,
                                              m: Manifest, column: String,
                                              keep: String => Boolean)
      : Option[Long] = {
    if (!m.schema.fieldNames.contains(column) ||
        m.partCols.contains(column)) return None
    val kept = m.mapping.filter { case (rel, _) => keep(rel) }
    // deleted rows' null-ness is unrecorded: the per-dir loop below
    // bails on any kept dir carrying DVs, so total is plain dir rows
    val total = kept.keysIterator.map(m.dirRows).sum
    val dtJson = m.schema(column).dataType.json
    var nulls = 0L
    for ((rel, gen) <- kept) {
      val prefix = s"$gen/$rel/"
      // DV'd files: deleted rows' null-ness is unrecorded — no fold
      if (m.dvs.keysIterator.exists(_.startsWith(prefix))) return None
      val covered = m.blockFor(fs, root, rel)._1.iterator
        .filter(_._1.startsWith(prefix))
        .flatMap { case (_, cols) => cols.get(column) }
        .filter(_.dtJson.contains(dtJson))
        .toSeq
      if (covered.length != m.dirFiles(rel)) return None
      nulls += covered.map(_.nulls).sum
    }
    Some(total - nulls)
  }

  /** Per-dir DV-deleted row counts: every row of a DV'd file shares the
    * dir's partition tuple, so the deleted count is attributable with no
    * data read (belt-and-braces: the DV's gen must match the dir's live
    * mapping). */
  private def dvCountsByDir(m: Manifest): Map[String, Long] =
    m.dvs.toSeq.groupBy { case (f, _) =>
      f.substring(f.indexOf('/') + 1, f.lastIndexOf('/')) }
      .map { case (rel, xs) =>
        rel -> xs.collect {
          case (f, (_, _, _, n))
              if m.mapping.get(rel).exists(g => f.startsWith(s"$g/")) => n
        }.sum }

  /** Every live dir's mapping key, exact partition values (in partCols
    * order, null for the null partition), and LIVE row count (DV
    * deletes subtracted) — the base fact the partition-filtered folds
    * evaluate predicates against, parsed in session zone `tz`. None
    * when any partition value fails its exact typed parse. */
  private[graft] def manifestDirLiveRows(m: Manifest, tz: String)
      : Option[Seq[(String, Seq[Any], Long)]] = {
    val dvByDir = dvCountsByDir(m)
    Some(m.mapping.keys.toSeq.map { rel =>
      val vals = m.partCols.map(c => partitionValue(m, rel, c, tz) match {
        case Right(v) => v.orNull
        case Left(_) => return None
      })
      (rel, vals, m.dirRows(rel) - dvByDir.getOrElse(rel, 0L))
    })
  }

  /** Metadata-only GROUP BY partition-column COUNT(*): per distinct
    * partition-value tuple (over `cols` ⊆ partCols), the summed live dir
    * row counts — external Scala values (parsed in session zone `tz`),
    * null for the default (null) partition. None when any partition
    * value fails its exact typed parse (conservative: the scan runs).
    * Exact because the dir name IS the value for every row in the dir. */
  private[graft] def manifestGroupCounts(m: Manifest, cols: Seq[String],
                                         tz: String)
      : Option[Seq[(Seq[Any], Long)]] = {
    if (cols.isEmpty || !cols.forall(m.partCols.contains)) return None
    val dvByDir = dvCountsByDir(m)
    val parsed = m.mapping.keys.toSeq.map { rel =>
      val vals = cols.map(c => partitionValue(m, rel, c, tz))
      if (vals.exists(_.isLeft)) return None
      (cols.indices.map(i => vals(i).toOption.get.orNull),
        m.dirRows(rel) - dvByDir.getOrElse(rel, 0L))
    }
    Some(parsed.groupBy(_._1).toSeq.map { case (k, xs) =>
      (k.toSeq, xs.map(_._2).sum) })
  }

  /** Inverse of [[renderStat]] under the column type: rendered text back
    * to the EXTERNAL Scala value (dates from epoch-day, timestamps from
    * epoch-µs, floats through the lossless double widening). Exact by
    * renderStat's round-trip contract. */
  private def parseStat(dt: DataType, s: String): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType => Some(s.toInt)
      case LongType => Some(s.toLong)
      case FloatType => Some(s.toDouble.toFloat)
      case DoubleType => Some(s.toDouble)
      case StringType => Some(s)
      case DateType =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong)))
      case TimestampType =>
        val us = s.toLong
        Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)))
      case d: DecimalType =>
        Some(new java.math.BigDecimal(s).setScale(d.scale))
      case _ => None
    }
  }

  /** Metadata-only ADD COLUMN: commit the current version with `name`
    * appended to the schema (nullable). No data rewrite — the read path
    * already null-fills columns absent from a generation's files (schema
    * evolution), so existing rows surface NULL and the next upsert may
    * write real values. The inverse of waiting for an upsert with the
    * new column to evolve the schema implicitly. */
  // ----- column defaults (ADD COLUMN ... DEFAULT) --------------------
  //
  // Iceberg's two-default model in field metadata (rides the manifest's
  // schema JSON through every commit/branch/restore with zero protocol
  // change): `graft.default` is the WRITE default (INSERT fills it when
  // the column is omitted — changeable via ALTER COLUMN SET DEFAULT),
  // and `graft.defaultInit` + `graft.defaultPre` are the INITIAL
  // default — the value rows written BEFORE the column existed surface
  // at read, frozen at ADD COLUMN time. `defaultPre` records, per ref,
  // the highest generation version live at the add ("-:7,b:3" — main
  // rendered as '-'), so the scan can decide PER GENERATION whether its
  // files predate the column: generation names carry (ref, version)
  // (`gen7` / `gen.b.3`), version counters are monotone per ref, a
  // branch created after the add is absent from the map (all its gens
  // are post-add), and a rewrite (compact/DML) lands in a new
  // higher-versioned generation whose files physically CARRY the
  // materialized values — so the rule never misfires on post-add data.

  private[graft] val DefaultKey = "graft.default"
  private[graft] val DefaultInitKey = "graft.defaultInit"
  private[graft] val DefaultPreKey = "graft.defaultPre"

  /** (ref, version) of a generation dir name; None for unparseable. */
  private def genRefVer(gen: String): Option[(String, Int)] =
    if (gen.startsWith("gen.")) {
      val i = gen.lastIndexOf('.')
      gen.substring(i + 1).toIntOption.map((gen.substring(4, i), _))
    } else if (gen.startsWith("gen"))
      gen.stripPrefix("gen").toIntOption.map(("", _))
    else None

  private def renderPreMap(m: Map[String, Int]): String =
    m.toSeq.sortBy(_._1)
      .map { case (r, v) => s"${if (r.isEmpty) "-" else r}:$v" }
      .mkString(",")

  private def parsePreMap(s: String): Map[String, Int] =
    s.split(",").filter(_.nonEmpty).flatMap { kv =>
      val i = kv.lastIndexOf(':')
      kv.substring(i + 1).toIntOption
        .map((if (kv.substring(0, i) == "-") "" else kv.substring(0, i)) -> _)
    }.toMap

  /** Fields carrying an initial default, with the parsed pre-map:
    * (field, default SQL, ref -> max pre-add version). */
  private def initialDefaults(schema: StructType)
      : Seq[(org.apache.spark.sql.types.StructField, String,
             Map[String, Int])] =
    schema.toSeq.collect {
      case f if f.metadata.contains(DefaultInitKey) &&
          f.metadata.contains(DefaultPreKey) =>
        (f, f.metadata.getString(DefaultInitKey),
          parsePreMap(f.metadata.getString(DefaultPreKey)))
    }

  /** The initial defaults generation `gen` must surface: a generation
    * whose (ref, version) a field's pre-map covers was written before
    * the column existed, so its null-filled column IS the default.
    * Post-add generations (absent ref, higher version, unparseable
    * name) get none. [[scanLeaves]] groups leaves by this set. */
  private def defaultsDue(schema: StructType, gen: String)
      : Seq[(org.apache.spark.sql.types.StructField, String)] =
    genRefVer(gen) match {
      case None => Nil
      case Some((ref, v)) => initialDefaults(schema).collect {
        case (f, sql, pre) if pre.get(ref).exists(v <= _) => (f, sql) }
    }

  /** Validate a DEFAULT expression: parses, references no columns, and
    * evaluates (ANSI errors surface here, not at first read) as the
    * column's type. Returns nothing — the TEXT is what's stored (write
    * defaults evaluate per INSERT, standard SQL — `current_date` means
    * the insert's date). */
  private def validateDefault(spark: SparkSession, sql: String,
                              dt: DataType): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
    }
    require(refs.isEmpty,
      s"DEFAULT must be a constant expression; '$sql' references " +
        refs.map(_.sql).mkString(", "))
    spark.range(1).select(
      org.apache.spark.sql.functions.expr(sql).cast(dt)).head()
  }

  /** Freeze a DEFAULT expression to a literal for the INITIAL default:
    * evaluate ONCE, now, and store the rendered VALUE — never the text.
    * A re-evaluated `current_timestamp()` would surface a different
    * value for pre-add rows on every read (and a rewrite would
    * materialize yet another); freezing makes "the default frozen at
    * ADD COLUMN time" literally true for any expression, Iceberg's
    * initial-default semantics. The rendered literal is round-tripped
    * through the parser so an unrenderable value refuses at DDL. */
  private def freezeDefault(spark: SparkSession, sql: String,
                            dt: DataType): String = {
    validateDefault(spark, sql, dt)
    val v = spark.range(1).select(
      org.apache.spark.sql.functions.expr(sql).cast(dt)).head().get(0)
    val litSql = org.apache.spark.sql.catalyst.expressions.Literal
      .create(v, dt).sql
    val back = spark.range(1).select(
      org.apache.spark.sql.functions.expr(litSql).cast(dt)).head().get(0)
    require(back == v || (back != null && back.equals(v)),
      s"DEFAULT value $v (of ${dt.simpleString}) does not round-trip " +
        s"through its literal rendering '$litSql'")
    litSql
  }

  /** Write defaults of the current schema: column -> default SQL (the
    * INSERT-omission fill values). */
  private[graft] def writeDefaults(schema: StructType): Map[String, String] =
    schema.toSeq.collect {
      case f if f.metadata.contains(DefaultKey) =>
        f.name -> f.metadata.getString(DefaultKey)
    }.toMap

  /** Set or clear the WRITE default of an existing column (ALTER COLUMN
    * SET/DROP DEFAULT) — metadata-only commit. SET leaves any initial
    * default untouched (pre-add rows keep surfacing the value frozen at
    * ADD); DROP clears BOTH, reverting pre-add rows to NULL. */
  def setColumnDefault(spark: SparkSession, root: String, name: String,
                       default: Option[String]): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(name),
      s"column $name does not exist at $root")
    val f = m.schema(name)
    default.foreach(validateDefault(spark, _, f.dataType))
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
    val nf = default match {
      case Some(sql) => f.copy(metadata = mb.putString(DefaultKey, sql)
        .build())
      case None => f.copy(metadata = mb.remove(DefaultKey)
        .remove(DefaultInitKey).remove(DefaultPreKey).build())
    }
    val newSchema = StructType(m.schema.map(x =>
      if (x.name == name) nf else x))
    val op = default.fold(s"drop-default:$name")(_ =>
      s"set-default:$name")
    at.commit(op, m.keys) { _ =>
      carryAll(m).copy(schema = newSchema)
    }
  }

  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: DataType,
                default: Option[String] = None): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(!m.schema.fieldNames.contains(name),
      s"column $name already exists at $root")
    m.schema.foreach(f => require(physicalName(f) != name,
      s"column name $name is the physical (as-written) name of renamed " +
        s"column ${f.name} — OPTIMIZE first to materialize that rename"))
    val field = default match {
      case None => org.apache.spark.sql.types.StructField(name, dataType,
        nullable = true)
      case Some(sql) =>
        // freeze the initial default NOW (a literal VALUE, never the
        // re-evaluable text): every generation live at this commit
        // predates the column, captured as max-version-per-ref
        val frozen = freezeDefault(spark, sql, dataType)
        val pre = m.mapping.values.toSeq.distinct.flatMap(genRefVer)
          .groupBy(_._1).map { case (r, vs) => r -> vs.map(_._2).max }
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(DefaultKey, sql)
            .putString(DefaultInitKey, frozen)
            .putString(DefaultPreKey, renderPreMap(pre)).build())
    }
    at.commit(s"add-column:$name", m.keys) { _ =>
      carryAll(m).copy(schema = StructType(m.schema.fields :+ field))
    }
  }

  /** Metadata-only DROP COLUMN: commit the current version with `name`
    * removed from the schema and its stats/blooms dropped. No data
    * rewrite — scans project through the manifest schema, so the column's
    * bytes in old files simply stop being read (they physically vanish at
    * the next compact/rewrite of each partition). Partition columns
    * cannot be dropped. */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(name),
      s"column $name does not exist at $root")
    require(!m.partCols.contains(name),
      s"column $name is a partition column — use repartitionTable first")
    require(m.schema.length > 1, "cannot drop the last column")
    // a CHECK constraint referencing the column would make every future
    // write unevaluable — drop the constraint first
    m.checks.foreach { case (cn, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last.toLowerCase(java.util.Locale.ROOT)
      }
      require(!refs.contains(name.toLowerCase(java.util.Locale.ROOT)),
        s"column $name is referenced by CHECK constraint $cn ($sql) — " +
          "dropConstraint first")
    }
    // the dropped column's index entries die with it — MATERIALIZE the
    // block-held index, strip the column, and re-emit everything fresh
    // (carrying block refs verbatim would resurrect its stats on read)
    val (allStats, allBlooms) = m.materializeIdx(at.fs, root)
    at.commit(s"drop-column:$name", m.keys) { _ =>
      carryAll(m).copy(schema = StructType(m.schema.filterNot(_.name == name)),
        stats = withoutCols(allStats, _ == name),
        blooms = withoutCols(allBlooms, _ == name),
        // a registration referencing the dropped column dies with it
        derived = m.derived.filter { case (p, (_, src)) =>
          src != name && p != name },
        idxRefs = Map.empty)
    }
  }

  /** One clause of a general MERGE: `cond` (None = unconditional) and
    * the action — `set` None = DELETE, `set` Some(empty) = UPDATE SET *
    * (matched clauses only), `set` Some(map) = UPDATE SET col = expr.
    * Matched-clause (and insert-condition) Columns may reference target
    * columns bare and source columns as `__s_<name>`; by-source clauses
    * target-only. */
  case class MergeClause(cond: Option[org.apache.spark.sql.Column],
                         set: Option[Map[String, org.apache.spark.sql.Column]])

  /** General MERGE — the full Delta-style clause matrix in ONE commit:
    *
    * {{{
    *   WHEN MATCHED [AND c] THEN DELETE | UPDATE SET * | UPDATE SET a=e
    *   WHEN NOT MATCHED [AND c] THEN INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET a=e
    * }}}
    *
    * First-match-wins across clauses, standard MERGE semantics. Built on
    * the same touched-dir rewrite as predicate DML ([[deleteWhere]]'s
    * rewriteTouched): ONE full-outer join keyed null-safely on `keys`
    * between the touched dirs' rows and the source, classified per row
    * (matched / target-only / source-only), written back in one staged
    * generation — readers never see a half-applied merge, unlike a
    * compose-the-legs multi-commit.
    *
    * Scale shape: without BY SOURCE clauses only partitions holding the
    * source's partition values rewrite (`keys` must cover the partition
    * columns, the upsert contract, so a match can only live there);
    * BY SOURCE clauses are full-table semantics and touch every dir.
    * A source row matching NO live partition inserts through the same
    * rewrite (new dirs join the mapping).
    *
    * Differences from the strict standard kept deliberately: several
    * source rows matching one target row produce one output row PER
    * source row (the standard raises; the upsert path dedups — callers
    * wanting uniqueness enforce it upstream), and matched UPDATE SET *
    * requires the source to carry every table column. */
  def mergeClauses(spark: SparkSession, root: String, source: DataFrame,
                   keys: Seq[String], matched: Seq[MergeClause],
                   insertWhen: Option[Option[org.apache.spark.sql.Column]],
                   bySource: Seq[MergeClause] = Nil,
                   fileRows: Option[Int] = None): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.functions.{lit, when}
    require(matched.nonEmpty || insertWhen.isDefined || bySource.nonEmpty,
      "MERGE needs at least one clause")
    bySource.foreach(c => require(c.set.forall(_.nonEmpty),
      "WHEN NOT MATCHED BY SOURCE supports DELETE or UPDATE SET col = " +
        "expr (there is no source row for SET *)"))
    val m = at.m
    require(m.partCols.forall(keys.contains),
      s"MERGE ON keys (${keys.mkString(", ")}) must include every " +
        s"partition column (${m.partCols.mkString(", ")}) — a match can " +
        "otherwise live outside the pruned partitions")
    keys.foreach(k => require(source.columns.contains(k),
      s"MERGE source lacks ON key column $k"))
    val tableCols = m.schema.fieldNames.toSeq
    // SET targets resolve case-insensitively (Spark's default) onto the
    // MANIFEST-case name, and an unknown target is loud — a silently
    // missed lookup would commit the merge with the update dropped
    def rekeyed(cl: MergeClause): MergeClause = cl.copy(set =
      cl.set.map(_.map { case (n, v) =>
        val nn = tableCols.find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"MERGE UPDATE SET targets unknown column $n"))
        require(!m.partCols.contains(nn),
          s"MERGE UPDATE SET cannot change partition column $nn — the " +
            "row would leave its directory without moving")
        nn -> v
      }))
    val matchedN = matched.map(rekeyed)
    val bySourceN = bySource.map(rekeyed)
    val needsStar = insertWhen.isDefined ||
      matchedN.exists(_.set.exists(_.isEmpty))
    if (needsStar) {
      val missing = tableCols.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"MERGE source lacks table columns ${missing.mkString(", ")} — " +
          "INSERT * / UPDATE SET * need every target column")
    }
    // touched dirs: by-source clauses are full-table; otherwise only
    // partitions holding the source's partition values can match
    val touched: Map[String, String] =
      if (bySource.nonEmpty) m.mapping
      else {
        val vals = Merge.partitionDirEntries(spark,
          source.select(m.partCols.map(col): _*), m.partCols)
          .map(_._2).toSet
        m.mapping.filter { case (rel, _) => vals.contains(rel) }
      }
    val srcPrefixed = source.select(source.columns.toSeq.map(c =>
      col(c).as(s"__s_$c")) :+ lit(true).as("__s_present"): _*)
    // the source's value for table column c, or typed NULL when the
    // source lacks it: a non-star MERGE only needs the columns its
    // clauses touch, so `__s_<c>` must not be referenced unconditionally
    // (the needsStar guard above enforces full coverage where SET * /
    // INSERT * genuinely require it, and only those paths read the NULL)
    def srcCol(c: String): org.apache.spark.sql.Column =
      source.columns.find(_.equalsIgnoreCase(c)) match {
        case Some(s) => col(s"__s_$s")
        case None => lit(null).cast(m.schema(c).dataType)
      }
    def clauseIdx(clauses: Seq[MergeClause])
        : org.apache.spark.sql.Column =
      clauses.zipWithIndex.foldRight(
        lit(-1): org.apache.spark.sql.Column) { case ((cl, i), acc) =>
        when(cl.cond.getOrElse(lit(true)), lit(i)).otherwise(acc) }
    def applyClausesFlagged(df: DataFrame,
                            withOld: Boolean = false): DataFrame = {
      val t = df.withColumn("__t_present", lit(true))
      val joinCond = keys.map(k => col(k) <=> col(s"__s_$k"))
        .reduce(_ && _)
      val j = t.join(srcPrefixed, joinCond, "full_outer")
      val isMatched = col("__t_present").isNotNull &&
        col("__s_present").isNotNull
      val sOnly = col("__t_present").isNull
      val mAct = clauseIdx(matchedN)
      val bAct = clauseIdx(bySourceN)
      // survival: a row dies on a DELETE clause win (or an uninserted
      // source-only row)
      def deletes(clauses: Seq[MergeClause],
                  act: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        clauses.zipWithIndex.filter(_._1.set.isEmpty)
          .map { case (_, i) => act === i }
          .reduceOption(_ || _).getOrElse(lit(false))
      val keep =
        when(isMatched, !deletes(matchedN, mAct))
          .when(sOnly, insertWhen match {
            case None => lit(false)
            case Some(c) => c.getOrElse(lit(true))
          })
          .otherwise(!deletes(bySourceN, bAct))
      def value(c: String): org.apache.spark.sql.Column = {
        def updated(clauses: Seq[MergeClause],
                    act: org.apache.spark.sql.Column,
                    base: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          clauses.zipWithIndex.foldRight(base) { case ((cl, i), acc) =>
            cl.set match {
              case Some(sets) if sets.isEmpty => // UPDATE SET *
                when(act === i, srcCol(c)).otherwise(acc)
              case Some(sets) =>
                when(act === i, sets.getOrElse(c, col(c))).otherwise(acc)
              case None => acc // DELETE: row never reaches value()
            }
          }
        when(sOnly, srcCol(c))
          .when(isMatched, updated(matchedN, mAct, col(c)))
          .otherwise(updated(bySourceN, bAct, col(c)))
      }
      // which post-image rows the clauses actually REWROTE: a matched
      // row some matched clause won, an inserted source-only row, or a
      // by-source row some clause won — the set write-time gates apply
      // to (expectations/CHECKs are not retroactive; an old violating
      // row must never block an unrelated merge)
      val changed =
        when(isMatched, mAct >= 0)
          .when(sOnly, lit(true))
          .otherwise(bAct >= 0)
      // withOld additionally carries each row's PRE-image (`__o_<col>`,
      // NULL for inserted source-only rows) and an inserted flag — the
      // expectation gate needs them to revert a violating rewrite to
      // its old row and to drop a violating insert entirely
      val extra =
        if (withOld)
          tableCols.map(c => col(c).as(s"__o_$c")) ++
            Seq(changed.as("__m_changed"), sOnly.as("__m_inserted"))
        else Seq(changed.as("__m_changed"))
      j.filter(keep).select(tableCols.map(c =>
        value(c).cast(m.schema(c).dataType).as(c)) ++ extra: _*)
    }
    def applyClauses(df: DataFrame): DataFrame =
      applyClausesFlagged(df).drop("__m_changed")
    if (touched.isEmpty) {
      // no live partition can match: only the INSERT leg applies. The
      // condition references source columns as `__s_<name>` (the same
      // namespace applyClauses resolves it in), so filter the PREFIXED
      // frame — filtering the raw source would leave it unresolved.
      insertWhen match {
        case None => Expectations.clearGateCounts(); at.cur
        case Some(cond) =>
          val rows = cond.fold(srcPrefixed)(srcPrefixed.filter)
            .select(tableCols.map(c =>
              srcCol(c).cast(m.schema(c).dataType).as(c)): _*)
          if (rows.isEmpty) { Expectations.clearGateCounts(); at.cur }
          // the upsert's own gate sets the counts for the insert leg
          else upsert(spark, root, rows, keys, m.partCols,
            statsCols = coveredIndexCols(m)._1,
            bloomCols = coveredIndexCols(m)._2, fileRows = fileRows)
      }
    } else {
      // Write-time gates on the rows the clauses actually REWROTE
      // (never retroactive): CHECK constraints FAIL the statement;
      // DROP/QUARANTINE expectations gate the post-image in their
      // declared mode on EVERY leg, exactly like the upsert path — ONE
      // semantic per statement: a violating candidate row never enters
      // the table. A violating INSERT vanishes (or quarantines), a
      // violating matched/by-source REWRITE reverts to its old row (or
      // quarantines the post-image), DELETE legs write no row and are
      // not gated. The flagged post-image localCheckpoints once, so
      // gates and the staging write share ONE evaluation of the
      // touched-dir join. Zero cost for ungated tables.
      val checkGates = m.checks ++ derivedChecks(m)
      val exps = Expectations.fromProps(m.props)
      if (checkGates.isEmpty && exps.isEmpty) {
        // no gate ran: clear the thread's counts so a PREVIOUS gated
        // write's violations are never attributed to this merge
        Expectations.clearGateCounts()
        rewriteTouched(spark, at, touched, fileRows,
          0L, contentChanging = true, op = "merge")(applyClauses)
      }
      else {
        val posted = applyClausesFlagged(scanDirs(spark, root, m, touched),
          withOld = exps.nonEmpty).localCheckpoint()
        if (checkGates.nonEmpty) enforceChecks(
          posted.filter(col("__m_changed"))
            .select(tableCols.map(col): _*),
          checkGates, "MERGE result")
        val gated = Expectations.gateMergeResult(spark, posted,
          tableCols, m)
        rewriteTouched(spark, at, touched, fileRows,
          0L, contentChanging = true, op = "merge",
          // gateMergeResult ran eagerly above: these are ITS counts
          expectLog = Expectations.lastGateCounts)(_ => gated)
      }
    }
  }

  /** Replace the table's ENTIRE content with `updates` in ONE commit —
    * `INSERT OVERWRITE` semantics: the new version's mapping holds only
    * the freshly written dirs (prior generations leave the mapping and
    * age out through vacuum like any replaced data; time travel still
    * reads them). CHECK constraints gate the new content, stats/bloom
    * coverage is rebuilt for it, stream watermarks/properties/derived
    * registrations carry. Any concurrent commit is a loud conflict —
    * an overwrite's footprint is the whole table, so the
    * disjoint-partition serialization that lets merges interleave can
    * never apply. */
  def overwrite(spark: SparkSession, root: String, updates: DataFrame,
                keys: Seq[String], partCols: Seq[String],
                statsCols: Seq[String] = Nil,
                fileRows: Option[Int] = None,
                bloomCols: Seq[String] = Nil,
                bloomBits: Long = 0L,
                txn: Option[(String, Long)] = None): Int =
    upsert(spark, root, updates, keys, partCols, statsCols, fileRows,
      bloomCols, bloomBits, txn, replaceAll = true)

  /** TRUNCATE: one METADATA commit whose mapping is empty — zero rows
    * at the new version, no data I/O at any table size (the dirs stay
    * for time travel until vacuum retires them). Schema, merge keys,
    * CHECK constraints, derived-partition registrations, properties,
    * and stream watermarks all carry — the table stays fully declared,
    * exactly like a WHERE-less DELETE that cleared every dir. An
    * already-empty table is a provable no-op (nothing commits). Like
    * [[overwrite]] — and unlike the declarative ops that re-derive from
    * the current version — a lost claim race is a LOUD conflict:
    * silently serializing a whole-table emptying AFTER a concurrent
    * commit would vanish that writer's acknowledged rows. */
  def truncate(spark: SparkSession, root: String): Int =
    commitLoop(spark, root, WholeTable("TRUNCATE empties")) { at =>
      val m = at.m
      if (m.mapping.isEmpty) at.cur // already empty: commit nothing
      else at.commit("truncate", m.keys) { _ =>
        Staged(m.partCols, m.schema, Map.empty, txns = m.txns,
          checks = m.checks, dirRows = Map.empty, dirFiles = Map.empty,
          dirBytes = Map.empty, derived = m.derived, dirVers = Map.empty,
          idxRefs = Map.empty, props = m.props)
      }
    }

  /** REPLACE TABLE: one commit REDEFINING the table — new schema,
    * partitioning, and merge keys with EMPTY content. CHECK constraints,
    * derived-partition registrations, properties, and stream watermarks
    * all RESET (a replaced table is a NEW table under the old name);
    * earlier versions stay time-travelable under the definitions they
    * recorded, until vacuum. Like [[overwrite]]/[[truncate]], a lost
    * claim race is a LOUD conflict — the footprint is the whole
    * table. */
  def redefine(spark: SparkSession, root: String, schema: StructType,
               partCols: Seq[String], keys: Seq[String]): Int = {
    require(partCols.nonEmpty, "at least one partition column")
    partCols.foreach(c => require(keys.contains(c),
      s"partition column $c must be part of the merge key"))
    (partCols ++ keys).foreach(c => require(
      schema.fieldNames.contains(c),
      s"declared partition/key column $c not in the schema"))
    commitLoop(spark, root, WholeTable("REPLACE TABLE redefines")) { at =>
      at.cur // only an existing table can be replaced
      at.commit("replace", keys) { _ =>
        Staged(partCols, schema, Map.empty, dirRows = Map.empty,
          dirFiles = Map.empty, dirBytes = Map.empty, derived = Map.empty,
          dirVers = Map.empty, idxRefs = Map.empty, props = Map.empty)
      }
    }
  }

  /** Metadata-only RENAME COLUMN (Delta column-mapping semantics): one
    * manifest commit renames the LOGICAL column while data files keep
    * the frozen PHYSICAL name (`graft.physical` field metadata — see
    * the column-mapping note above scanUnion). Continuity carries
    * everything the column owns:
    *
    *  - stats/bloom index entries (the block index is materialized and
    *    re-keyed, like dropColumn) keep pruning under the new name;
    *  - CHECK constraint expressions are rewritten to reference it;
    *  - derived-partition registrations tracking it as SOURCE follow;
    *  - merge keys rename with it.
    *
    * Earlier versions stay readable under the names THEY recorded (each
    * manifest pins its own schema), and the next full rewrite
    * (OPTIMIZE / repartitionTable) materializes the rename into the
    * files and drops the mapping. Partition columns refuse (the dir
    * names ARE the value — repartitionTable first). A materialized view
    * watching this table by the old measure/group names needs
    * re-creation — the spec records names, not ids. */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Int =
      commitLoop(spark, root, Rederive) { at =>
    val m = at.m
    require(m.schema.fieldNames.contains(from),
      s"column $from does not exist at $root")
    require(from != to, s"RENAME COLUMN $from TO $from is a no-op")
    require(!m.schema.fieldNames.contains(to),
      s"column $to already exists at $root")
    require(!m.partCols.contains(from),
      s"column $from is a partition column — its name IS the directory " +
        "layout; use repartitionTable to change it")
    // `to` must not collide with any OTHER field's frozen physical name,
    // or two logical columns would map onto one stored column (renaming
    // a column BACK to its own physical name is the clean case below)
    m.schema.filter(_.name != from).foreach(f =>
      require(physicalName(f) != to,
        s"column name $to is the physical (as-written) name of renamed " +
          s"column ${f.name} — OPTIMIZE first to materialize that rename"))
    val fromField = m.schema(from)
    val phys = physicalName(fromField)
    val newSchema = StructType(m.schema.map { f =>
      if (f.name != from) f
      else if (phys == to) // rename back to the stored name: mapping ends
        f.copy(name = to, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(PhysicalKey).build())
      else f.copy(name = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysicalKey, phys).build())
    })
    // CHECK constraints follow the rename — a constraint must keep
    // gating writes under the column's new name
    val newChecks = m.checks.map { case (n, sql) =>
      val e = spark.sessionState.sqlParser.parseExpression(sql)
      val rewritten = e.transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 &&
              a.nameParts.head.equalsIgnoreCase(from) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(to))
      }
      n -> rewritten.sql
    }
    val newKeys = m.keys.map(k => if (k == from) to else k)
    val newDerived = m.derived.map { case (pc, (t, src)) =>
      pc -> ((t, if (src == from) to else src)) }
    // index continuity: MATERIALIZE the block-held index and re-key the
    // renamed column's entries (carrying block refs verbatim would keep
    // serving them under the dead name)
    val (allStats, allBlooms) = m.materializeIdx(at.fs, root)
    def rekey[A](mm: Map[String, Map[String, A]])
        : Map[String, Map[String, A]] =
      mm.map { case (f, cols) => f -> cols.map { case (c, v) =>
        (if (c == from) to else c) -> v } }
    at.commit(s"rename-column:$from>$to", newKeys) { _ =>
      carryAll(m).copy(schema = newSchema, stats = rekey(allStats),
        blooms = rekey(allBlooms), checks = newChecks, derived = newDerived,
        idxRefs = Map.empty)
    }
  }

  /** Metadata-only TYPE WIDENING (Delta's type-widening semantics): one
    * manifest commit changes the column's LOGICAL type while data files
    * keep their narrower physical encoding — Spark 4's parquet readers
    * promote int32→int64/double and float→double at scan, so every
    * generation keeps reading with zero rewrites. Supported: integral
    * widening (tinyint < smallint < int < bigint), integral→double,
    * float→double — exactly the promotions the vectorized reader
    * performs.
    *
    * Index continuity: min/max stats re-tag to the new type (their
    * canonical text parses identically under the wider type — floats
    * already render via lossless double widening); BLOOM coverage for
    * the column is DROPPED — blooms hash TYPED values (xxhash64 of
    * int 5 ≠ long 5), so a carried filter would wrongly skip files.
    * Reads stay correct, just bloom-less on this column, until the next
    * OPTIMIZE rebuilds the filters under the new type.
    *
    * Refused: partition columns (the dir name IS the typed value),
    * derived-partition sources (bucket transforms hash width-sensitively)
    * and merge keys of synthetic-__bucket tables (same hash feeds the
    * bucket function — rewrites would land rows in foreign partitions). */
  def widenColumn(spark: SparkSession, root: String, name: String,
                  to: DataType): Int =
    widenColumns(spark, root, Seq(name -> to))

  /** [[widenColumn]] for several columns in ONE commit — a multi-column
    * ALTER statement is atomic: every widening validates before any
    * publishes, so a narrowing later in the list cannot leave earlier
    * widenings half-applied in the history. */
  def widenColumns(spark: SparkSession, root: String,
                   cols: Seq[(String, DataType)]): Int =
      commitLoop(spark, root, Rederive) { at =>
    import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
      IntegerType, LongType, ShortType}
    require(cols.nonEmpty, "no columns to widen")
    require(cols.map(_._1).distinct.length == cols.length,
      s"duplicate column in widening list: ${cols.map(_._1).mkString(", ")}")
    val m = at.m
    val rank = Map[DataType, Int](ByteType -> 0, ShortType -> 1,
      IntegerType -> 2, LongType -> 3)
    // ALL validation first: the commit below is all-or-nothing
    cols.foreach { case (name, to) =>
      require(m.schema.fieldNames.contains(name),
        s"column $name does not exist at $root")
      val from = m.schema(name).dataType
      val ok = (from, to) match {
        case (FloatType, DoubleType) => true
        case (f, DoubleType) if rank.contains(f) => true
        case (f, t) if rank.contains(f) && rank.contains(t) =>
          rank(f) < rank(t)
        case _ => false
      }
      require(ok,
        s"unsupported type change ${from.simpleString} -> " +
          s"${to.simpleString}: metadata-only widening covers " +
          "tinyint<smallint<int<bigint, integral->double, and " +
          "float->double")
      require(!m.partCols.contains(name),
        s"column $name is a partition column — its name IS the " +
          "directory layout; use repartitionTable to change it")
      m.derived.collectFirst { case (pc, (t, src)) if src == name =>
        (pc, t) }
        .foreach { case (pc, t) => throw new IllegalArgumentException(
          s"column $name is the source of derived partition " +
            s"$pc=$t($name) — the transform hashes the typed value; " +
            "DROP DERIVED PARTITION first") }
      require(!(m.partCols == Seq("__bucket") && m.keys.contains(name)),
        s"column $name is a merge key of a key-bucketed table — the " +
          "synthetic bucket hashes the typed key; widening would " +
          "re-bucket rewritten rows into foreign partitions")
    }
    val toOf = cols.toMap
    val fromJson = cols.map { case (n, _) => n -> m.schema(n).dataType.json }
      .toMap
    val newSchema = StructType(m.schema.map(f =>
      toOf.get(f.name).fold(f)(t => f.copy(dataType = t))))
    val (allStats, allBlooms) = m.materializeIdx(at.fs, root)
    val retagged = allStats.map { case (f, cs) => f -> cs.map {
      case (c, st) if toOf.contains(c) && st.dtJson.contains(fromJson(c)) =>
        c -> st.copy(dtJson = Some(toOf(c).json))
      case other => other } }
    val widened = toOf.keySet
    val op = cols.map { case (n, t) => s"$n:${t.simpleString}" }
      .mkString("widen-column:", ",", "")
    at.commit(op, m.keys) { _ =>
      carryAll(m).copy(schema = newSchema, stats = retagged,
        blooms = withoutCols(allBlooms, widened), idxRefs = Map.empty)
    }
  }

  // ----- branches (zero-copy refs) -----------------------------------

  /** Fork a zero-copy branch off `root`'s version `fromVersion` (default
    * current): the branch's v0 manifest is a byte copy of the source's —
    * it references the SAME immutable generation dirs, so creation moves
    * no data at any table size — plus a `#fork` anchor recording where it
    * forked. From then on `"$root@$name"` is a full table handle: every
    * API (upsert, DML, readWhere, change feeds, SQL targets, matviews)
    * works on it unchanged, branch writes land in the branch's own gen
    * namespace (`gen.<name>.<v>`), and main never sees them until
    * [[fastForward]]. The Iceberg-refs / Delta-shallow-clone idea without
    * the cross-table path rewriting: dev/test isolation and
    * write-audit-publish on a 100 TB table for the cost of one metadata
    * file. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   fromVersion: Option[Int] = None): String = {
    require(BranchNameRe.matches(name), s"illegal branch name: $name")
    val (b, srcBranch) = splitRef(root)
    require(srcBranch != name, s"branch $name cannot fork from itself")
    val fs = fsFor(spark, root)
    val handle = s"$b@$name"
    // resolve the source's committed history FIRST: forking a
    // never-written root must say so, not leak listStatus's raw
    // FileNotFoundException from the leftovers check below
    if (currentVersion(spark, root).isEmpty)
      throw new java.io.FileNotFoundException(
        s"no committed version at $root")
    // a vacuumed-down branch may have no v0 left — the claim alone can't
    // see that, so refuse while ANY metadata of this name exists
    val leftovers = fs.listStatus(new Path(b)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(s"_manifest.b-$name.") ||
        n.startsWith(s"_commit.b-$name."))
    require(leftovers.isEmpty,
      s"branch $name already exists at $root (dropBranch first): " +
        leftovers.mkString(","))
    val v = fromVersion.getOrElse(currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed version at $root")))
    require(history(spark, root).contains(v),
      s"version $v is not committed (or was vacuumed) at $root")
    val srcBytes = {
      val in = fs.open(new Path(b, manifestName(root, v)))
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        out.toByteArray
      } finally in.close()
    }
    // strip any fork line the SOURCE carried (branch-of-branch): this
    // branch's anchor is its own fork point
    val body = new String(srcBytes, StandardCharsets.UTF_8).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#fork\t") &&
        !l.startsWith("#op\t"))
      .mkString("", "\n", "\n") +
      s"#op\t${java.util.Base64.getEncoder.encodeToString(
        "create-branch".getBytes(StandardCharsets.UTF_8))}\n"
    val forkLine = s"#fork\t${if (srcBranch.isEmpty) "-"
      else java.util.Base64.getEncoder.encodeToString(
        srcBranch.getBytes(StandardCharsets.UTF_8))}\t$v\n"
    val out = createExclusive(fs, new Path(b, manifestName(handle, 0)))
    try out.write((body + forkLine).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    publish(spark, handle, 0)
    // guard against the createBranch/vacuum race: a vacuum that LISTED
    // manifests before this publish may delete generations only this
    // branch references. Post-publish (so any LATER vacuum sees the
    // branch), verify every referenced gen still exists; a casualty is
    // retracted and reported instead of left as a dangling branch. The
    // residual window (vacuum's delete landing between this check and
    // its own earlier listing) is the usual don't-vacuum-while-forking
    // caveat, here shrunk to milliseconds.
    val missing = readManifest(fs, handle, 0).mapping.values.toSeq.distinct
      .filterNot(g => fs.exists(new Path(b, g)))
    if (missing.nonEmpty) {
      fs.delete(new Path(b, commitName(handle, 0)), false)
      fs.delete(new Path(b, manifestName(handle, 0)), false)
      throw new IllegalStateException(
        s"createBranch($name) raced a vacuum: generations " +
          s"${missing.mkString(", ")} were retired mid-fork — re-run " +
          "(and avoid vacuuming concurrently with branch creation)")
    }
    handle
  }

  /** Branch names with at least one committed version at `root`. */
  def listBranches(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsFor(spark, root)
    val b = tableRoot(root)
    if (!fs.exists(new Path(b))) return Seq.empty
    fs.listStatus(new Path(b)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit.b-") =>
        n.stripPrefix("_commit.b-").takeWhile(_ != '.') }
      .distinct.sorted
  }

  /** The fork anchor of a branch handle: (source branch name, "" =
    * main; source version). None on a main handle or a pre-branch
    * manifest. */
  def forkOf(spark: SparkSession, root: String): Option[(String, Int)] =
    resolveManifest(spark, root, None).fork

  /** Delete a branch: all its manifests and markers go; its gens and
    * sidecars go too UNLESS another ref's manifest still references them
    * ([[fastForward]] makes main reference branch gens — those survive
    * and belong to main's lineage from then on). */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    require(BranchNameRe.matches(name), s"illegal branch name: $name")
    val fs = fsFor(spark, root)
    val b = tableRoot(root)
    val names = fs.listStatus(new Path(b)).toSeq.map(_.getPath.getName)
    val mine = names.filter(n =>
      n.startsWith(s"_manifest.b-$name.") || n.startsWith(s"_commit.b-$name."))
    require(mine.nonEmpty, s"no branch $name at $root")
    mine.foreach(n => fs.delete(new Path(b, n), false))
    // liveness across every REMAINING manifest (main + other branches +
    // main's post-fastForward references into this branch's namespace)
    val rest = names.filter(n => n.startsWith("_manifest.") &&
      !n.startsWith(s"_manifest.b-$name."))
    val parsed = rest.map(n =>
      scala.util.Try(readManifestFile(fs, new Path(b, n), n)))
    if (parsed.forall(_.isSuccess)) {
      val ms = parsed.collect { case scala.util.Success(m) => m }
      // an unreadable _idx slice skips the sweep (main vacuum's orphan
      // collection picks the leftovers up later)
      val (liveGens, liveSidecars) = liveRefs(fs, b, ms)
        .getOrElse { return }
      names.foreach { n =>
        val stale =
          (n.startsWith(s"gen.$name.") && !liveGens.contains(n)) ||
          (n.startsWith(s"_bloomx.b-$name.") && !liveSidecars.contains(n)) ||
          (n.startsWith(s"_dvx.b-$name.") && !liveSidecars.contains(n)) ||
          (n.startsWith(s"_idx.b-$name.") && !liveSidecars.contains(n))
        if (stale) fs.delete(new Path(b, n), true)
      }
    } // else: a concurrent stage is mid-write — vacuum collects later
  }

  /** Publish branch `name`'s head back onto the ref it forked from as
    * one new commit — the write-audit-publish step. Anchored three-way
    * on the recorded fork version: dirs changed ONLY on the branch take
    * the branch's files/stats/blooms/DVs, dirs changed only on the
    * target keep the target's, and a dir changed on BOTH (by content
    * token) throws [[ConcurrentWriteConflictException]] — same
    * disjoint-partition rule the optimistic writer retry uses. Schema /
    * constraints / derived registrations merge three-way the same
    * fashion (changed on one side wins; divergent changes conflict);
    * txn watermarks merge per-stream max so exactly-once lineages on
    * either side survive. Metadata-only: no data file moves, the target
    * simply starts referencing the branch's generation dirs (vacuum and
    * dropBranch know to keep them). The branch itself stays; drop it
    * when done. Requires the fork-version manifest still retained on the
    * target (vacuum with enough `keepVersions`). */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    val b = tableRoot(root)
    val brHandle = s"$b@$name"
    val fs = fsFor(spark, root)
    val brCur = currentVersion(spark, brHandle).getOrElse(
      throw new java.io.FileNotFoundException(s"no branch $name at $root"))
    val brM = readManifest(fs, brHandle, brCur)
    val (forkSrc, forkV) = brM.fork.getOrElse(throw new IllegalStateException(
      s"branch $name at $root carries no fork anchor"))
    val target = if (forkSrc.isEmpty) b else s"$b@$forkSrc"
    commitLoop(spark, target, Rederive) { at =>
      val curM = at.m
      // the merge anchor is the BRANCH's v0 manifest — a byte copy of the
      // fork state that branch vacuum always retains — so the target's
      // own retention window never constrains a fast-forward
      val forkM =
        try readManifest(fs, brHandle, 0)
        catch { case e: java.io.IOException =>
          throw new IllegalStateException(
            s"branch $name's v0 (fork anchor, copy of $target v$forkV) " +
              "is missing — cannot anchor the fast-forward merge", e) }
      if (curM.partCols != brM.partCols ||
          curM.partCols != forkM.partCols)
        throw new ConcurrentWriteConflictException(
          s"partition layout changed since fork of $name — " +
            "fast-forward cannot merge across a layout change")
      def pick3[A](fk: A, a: A, bb: A, what: String): A =
        if (a == fk) bb else if (bb == fk) a else if (a == bb) a
        else throw new ConcurrentWriteConflictException(
          s"$what changed on both $target and branch $name since fork")
      val schema = pick3(forkM.schema, curM.schema, brM.schema, "schema")
      val checks = pick3(forkM.checks, curM.checks, brM.checks,
        "constraints")
      val derived = pick3(forkM.derived, curM.derived, brM.derived,
        "derived partitions")
      // properties merge PER KEY (disjoint edits on both sides are
      // routine governance and commute); same-key divergence conflicts
      val props = (forkM.props.keySet ++ curM.props.keySet ++
        brM.props.keySet).toSeq.map { k =>
          k -> pick3(forkM.props.get(k), curM.props.get(k),
            brM.props.get(k), s"table property '$k'")
        }.collect { case (k, Some(v)) => k -> v }.toMap
      def changed(m: Manifest): Set[String] =
        (m.dirVers.keySet ++ forkM.dirVers.keySet)
          .filter(r => m.dirVers.get(r) != forkM.dirVers.get(r))
      val tChanged = changed(curM)
      val bChanged = changed(brM)
      val overlap = tChanged intersect bChanged
      if (overlap.nonEmpty)
        throw new ConcurrentWriteConflictException(
          s"fast-forward of $name conflicts with $target: partitions " +
            s"changed on both sides since fork v$forkV: " +
            overlap.toSeq.sorted.take(8).mkString(", "))
      // per-dir source: branch wins its changed dirs, target keeps the
      // rest (dropped-on-branch dirs simply don't re-enter the mapping)
      val mapping = (curM.mapping -- bChanged) ++
        brM.mapping.filter { case (rel, _) => bChanged.contains(rel) }
      def perDir[A](tm: Map[String, A], bm: Map[String, A]): Map[String, A] =
        (tm -- bChanged) ++
          bm.filter { case (rel, _) => bChanged.contains(rel) }
      def dirPrefixes(m: Manifest, rels: Set[String]): Set[String] =
        m.mapping.collect { case (rel, g) if rels.contains(rel) =>
          s"$g/$rel/" }.toSet
      val fromBr = dirPrefixes(brM, bChanged)
      val fromT = dirPrefixes(curM, curM.mapping.keySet -- bChanged)
      def fileScoped[A](tm: Map[String, A], bm: Map[String, A])
          : Map[String, A] = {
        def dirOf(f: String) = f.substring(0, f.lastIndexOf('/') + 1)
        tm.filter { case (f, _) => fromT.contains(dirOf(f)) } ++
          bm.filter { case (f, _) => fromBr.contains(dirOf(f)) }
      }
      val txns = (curM.txns.keySet ++ brM.txns.keySet).map { sid =>
        sid -> math.max(curM.txns.getOrElse(sid, Long.MinValue),
          brM.txns.getOrElse(sid, Long.MinValue))
      }.toMap
      // the WAP gate: CHECK constraints hold on the PUBLISHED result,
      // same as every other commit path. Branch-won dirs validate
      // always (the branch never saw constraints added on the target);
      // target-kept dirs re-validate only when the branch changed the
      // constraint set (their data already passed the target's own
      // gates). Derived-partition invariants ride along like upsert's.
      val gates = checks ++ derivedChecks(curM.copy(derived = derived,
        partCols = curM.partCols))
      if (gates.nonEmpty && bChanged.nonEmpty)
        enforceChecks(
          scanDirs(spark, brHandle, brM,
            brM.mapping.filter { case (rel, _) => bChanged.contains(rel) }),
          gates, s"fast-forward of $name (branch-changed partitions)")
      if (gates.nonEmpty && checks != curM.checks) {
        val keptDirs = curM.mapping -- bChanged
        if (keptDirs.nonEmpty)
          enforceChecks(scanDirs(spark, target, curM, keptDirs),
            gates, s"fast-forward of $name (target partitions under " +
              "branch-introduced constraints)")
      }
      // a schema changed on the branch (column dropped/added) cannot
      // carry index entries by reference: a dropped column's block-held
      // stats would resurface if the column were ever re-added — strip
      // the merged index to the merged schema and emit it fresh, the
      // same discipline dropColumn applies
      val schemaChanged = schema != curM.schema || schema != brM.schema
      val cols = schema.fieldNames.toSet
      val (mergedStats, mergedBlooms) =
        if (!schemaChanged) (Map.empty[String, Map[String, ColStat]],
          Map.empty[String, Map[String, (String, Long, Int)]])
        else {
          val (ts, tr) = curM.materializeIdx(fs, tableRoot(target))
          val (bs, br) = brM.materializeIdx(fs, tableRoot(target))
          (withoutCols(fileScoped(ts, bs), c => !cols(c)),
            withoutCols(fileScoped(tr, br), c => !cols(c)))
        }
      at.commit(s"fast-forward:$name",
          pick3(forkM.keys, curM.keys, brM.keys, "merge keys")) { _ =>
        Staged(curM.partCols, schema, mapping,
          stats = mergedStats, blooms = mergedBlooms, txns = txns,
          dvRefs = fileScoped(curM.dvs, brM.dvs),
          checks = checks,
          dirRows = perDir(curM.dirRows, brM.dirRows),
          dirFiles = perDir(curM.dirFiles, brM.dirFiles),
          dirBytes = perDir(curM.dirBytes, brM.dirBytes),
          derived = derived,
          dirVers = perDir(curM.dirVers, brM.dirVers),
          // per-dir index refs merge the same way the dirs do — block
          // slices are immutable, so the target simply references the
          // branch's _idx sidecars for branch-won dirs (schema changes
          // fall back to the materialized fresh emission above)
          idxRefs = if (schemaChanged) Map.empty
            else perDir(curM.idxRefs, brM.idxRefs),
          props = props)
      }
    }
  }

  /** Retire everything outside the retention window: keep the last
    * `keepVersions` COMMITTED versions (their manifests, markers, and
    * every generation any of them references) and delete the rest —
    * stale generations, retired manifests/markers, unpublished stages
    * (crashed prepares' claims + gen dirs), and prepare scratch. With
    * the default `keepVersions = 1` only the current version survives;
    * larger values keep a readable `asOfVersion` time-travel window
    * across vacuums. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1): Unit = {
    // a branch ALWAYS retains its v0 (the fork anchor) — see keepSet
    vacuumKeeping(spark, root, keepSet(spark, root, keepVersions))
    ()
  }

  /** Age-based retention (Delta's `VACUUM ... RETAIN`): retire versions
    * whose COMMIT time is older than `retainMs` before now — the policy a
    * scheduled maintenance job actually wants ("keep 7 days of time
    * travel"), independent of commit rate. The CURRENT version always
    * survives regardless of age. */
  def vacuumOlderThan(spark: SparkSession, root: String,
                      retainMs: Long): Unit = {
    vacuumKeeping(spark, root, ageKeepSet(spark, root, retainMs))
    ()
  }

  /** [[vacuumOlderThan]]'s dry run: what the age-based vacuum would
    * delete, one name per row, nothing deleted. */
  def vacuumOlderThanDryRun(spark: SparkSession, root: String,
                            retainMs: Long): Seq[String] =
    vacuumKeeping(spark, root, ageKeepSet(spark, root, retainMs),
      dryRun = true)

  private def ageKeepSet(spark: SparkSession, root: String,
                         retainMs: Long): Set[Int] = {
    require(retainMs >= 0, s"retainMs must be >= 0: $retainMs")
    val cutoff = System.currentTimeMillis() - retainMs
    val detail = historyDetail(spark, root)
    detail.filter(_._2 >= cutoff).map(_._1).toSet ++
      detail.lastOption.map(_._1) ++
      (if (brNs(root).nonEmpty && detail.exists(_._1 == 0)) Set(0)
       else Set.empty[Int]) // branch fork anchor, as in [[vacuum]]
  }

  /** Vacuum is REF-SCOPED: run on the main handle it retires main
    * versions; run on `root@br` it retires that branch's versions. It
    * never deletes another ref's manifests or markers, and a generation
    * or sidecar survives while ANY remaining manifest of ANY ref
    * references it — branches share the main chain's gens at fork, and
    * [[fastForward]] makes main reference branch gens, so liveness is
    * table-wide by construction. Gens in a branch namespace whose branch
    * has no manifests/markers left (dropped) are collected here as
    * orphans. If any other ref's manifest is unparseable mid-write (a
    * concurrent createBranch/stage), gen/sidecar deletion is skipped for
    * this pass — retired manifests still drop; the next vacuum collects
    * the rest. */
  /** Every _bloomx sidecar referenced from INSIDE the given manifests'
    * index blocks — each DISTINCT slice parsed once across manifests
    * (consecutive versions carry most refs verbatim). None = some slice
    * is unreadable (damaged _idx / concurrent write): callers skip
    * gen/sidecar deletion this pass instead of wedging or over-deleting.
    */
  private def blockHeldBloomSidecars(fs: FileSystem, base: String,
                                     ms: Seq[Manifest]): Option[Set[String]] =
    scala.util.Try {
      ms.flatMap(_.idxRefs.valuesIterator).distinct.flatMap { r =>
        val buf = new Array[Byte](r.len)
        val in = fs.open(new Path(base, r.sidecar))
        try in.readFully(r.off, buf, 0, r.len) finally in.close()
        parseBloomRefLines(new String(buf, StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty))
          .valuesIterator.flatMap(_.valuesIterator).map(_._1)
      }.toSet
    }.toOption

  /** The (live generation dirs, live sidecar names) the given manifests
    * pin — the ONE liveness derivation vacuum and dropBranch both sweep
    * against (a divergence here either leaks or deletes live data).
    * None = some _idx slice is unreadable: callers must skip deletion
    * this pass. */
  private def liveRefs(fs: FileSystem, base: String, ms: Seq[Manifest])
      : Option[(Set[String], Set[String])] =
    blockHeldBloomSidecars(fs, base, ms).map { blockHeld =>
      (ms.flatMap(_.mapping.values).toSet,
        ms.flatMap(_.dvs.valuesIterator).map(_._1).toSet ++
          ms.flatMap(_.idxRefs.valuesIterator).map(_.sidecar).toSet ++
          blockHeld)
    }

  /** The table's own `graft.retain.versions` policy, validated at set
    * time; a hand-corrupted value degrades to None (policy absent)
    * rather than wedging maintenance. */
  def declaredRetention(spark: SparkSession, root: String): Option[Int] =
    propertiesOf(spark, root).get("graft.retain.versions")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1)

  /** The ONE keep-set derivation [[vacuum]] and [[vacuumDryRun]] share
    * — retained window plus the branch fork anchor. */
  private def keepSet(spark: SparkSession, root: String,
                      keepVersions: Int): Set[Int] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val h = history(spark, root)
    val anchor: Set[Int] =
      if (brNs(root).nonEmpty && h.contains(0)) Set(0) else Set.empty
    h.takeRight(keepVersions).toSet ++ anchor
  }

  /** What [[vacuum]] WOULD delete, without deleting — the dry run an
    * operator reviews before retiring time travel (Delta's
    * `VACUUM ... DRY RUN`): the same keep-set and stale-name derivation
    * as the real sweep, so the listing can never diverge from the
    * deletion. */
  def vacuumDryRun(spark: SparkSession, root: String,
                   keepVersions: Int = 1): Seq[String] =
    vacuumKeeping(spark, root, keepSet(spark, root, keepVersions),
      dryRun = true)

  private def vacuumKeeping(spark: SparkSession, root: String,
                            keep: Set[Int],
                            dryRun: Boolean = false): Seq[String] = {
    val fs = fsFor(spark, root)
    val b = tableRoot(root)
    if (!fs.exists(new Path(b))) return Seq.empty
    val ns = brNs(root)
    def versionOf(n: String, prefix: String): Option[Int] = {
      val rest = n.stripPrefix(prefix + ns)
      if (n.startsWith(prefix + ns) && rest.nonEmpty &&
          rest.forall(_.isDigit)) Some(rest.toInt) else None
    }
    // NO early return when nothing is committed: a crashed FIRST prepare
    // leaves a claim (_manifest.0 + maybe gen0) on a table with zero
    // commits, and vacuum is the documented recovery path — it must
    // clear those too or the table is wedged forever (keep set is just
    // empty: everything unpublished of THIS ref is stale)
    val names = fs.listStatus(new Path(b)).toSeq.map(_.getPath.getName)
    // manifests that will REMAIN after this vacuum: every other ref's
    // (committed or staged), plus this ref's kept set
    val remaining = names.filter(_.startsWith("_manifest.")).filter { n =>
      versionOf(n, "_manifest.") match {
        case Some(v) => keep.contains(v)
        case None => true // another ref's — out of this vacuum's scope
      }
    }
    val parsed = remaining.map { n =>
      scala.util.Try(readManifestFile(fs, new Path(b, n), n))
    }
    val retained = parsed.collect { case scala.util.Success(m) => m }
    // a retained manifest may reference OLDER versions' sidecars
    // (carried _idx blocks and the bloom refs held INSIDE them) — those
    // survive with it; an unreadable slice disables deletion this pass
    // (like an unparseable manifest)
    val live = liveRefs(fs, b, retained)
    val allParsed = parsed.forall(_.isSuccess) && live.isDefined
    val (liveGens, liveSidecars) = live.getOrElse((Set.empty[String],
      Set.empty[String]))
    // branch names with any metadata still present: their gens are never
    // collected as orphans even when currently unreferenced (mid-stage)
    val liveBranches = names.flatMap { n =>
      Seq("_manifest.b-", "_commit.b-").collectFirst {
        case p if n.startsWith(p) =>
          n.stripPrefix(p).takeWhile(_ != '.')
      }
    }.toSet
    val myGenPrefix = if (ns.isEmpty) "" else s"gen.${splitRef(root)._2}."
    names.sorted.filter { n =>
      val genStale = allParsed && n.startsWith("gen") &&
        !liveGens.contains(n) && {
          if (ns.isEmpty)
            // main vacuum: main-namespace gens + orphaned-branch gens
            n.stripPrefix("gen").forall(_.isDigit) ||
              (n.startsWith("gen.") &&
                !liveBranches.contains(
                  n.stripPrefix("gen.").takeWhile(_ != '.')))
          else n.startsWith(myGenPrefix)
        }
      val stale = genStale ||
        versionOf(n, "_manifest.").exists(!keep.contains(_)) ||
        versionOf(n, "_commit.").exists(!keep.contains(_)) ||
        (allParsed && n.startsWith(s"_bloomx.$ns") &&
          versionOf(n, "_bloomx.").isDefined && !liveSidecars.contains(n)) ||
        (allParsed && n.startsWith(s"_dvx.$ns") &&
          versionOf(n, "_dvx.").isDefined && !liveSidecars.contains(n)) ||
        (allParsed && n.startsWith(s"_idx.$ns") &&
          versionOf(n, "_idx.").isDefined && !liveSidecars.contains(n)) ||
        // orphan collection: a DROPPED branch's sidecars (its own vacuum
        // can never run again) fall to main vacuum, like its gens
        (allParsed && ns.isEmpty && !liveSidecars.contains(n) &&
          Seq("_bloomx.b-", "_dvx.b-", "_idx.b-").exists(p =>
            n.startsWith(p) && !liveBranches.contains(
              n.substring(p.length).takeWhile(_ != '.')))) ||
        n.startsWith(".names") // scratch left by a crashed prepare()
      if (stale && !dryRun) fs.delete(new Path(b, n), true)
      stale
    }
  }
}
