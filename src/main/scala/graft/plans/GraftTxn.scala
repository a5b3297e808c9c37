package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.ops.MultiSync

/**
 * SQL multi-table TRANSACTIONS over [[MultiSync.upsertAtomic]]:
 *
 * {{{
 *   BEGIN GRAFT TRANSACTION;
 *   INSERT INTO daily_metrics SELECT ...;   -- deferred (returns -1)
 *   INSERT INTO latest_quotes SELECT ...;   -- deferred
 *   COMMIT GRAFT TRANSACTION;               -- ONE atomic publish
 * }}}
 *
 * The reference's DAG cycle writes two warehouse tables back to back
 * (load_stream_to_snowflake.py + load_to_snowflake.py) with a crash
 * window between them; the SQL form above makes the pair
 * all-or-nothing: COMMIT stages every deferred INSERT, publishes one
 * decision marker (the commit point), then every member's commit
 * marker — [[MultiSync.upsertAtomic]]'s two-phase protocol, crash
 * recovery included.
 *
 * Scope rules, kept deliberately narrow and loud:
 *  - a transaction is THREAD-scoped per session (BEGIN / the deferred
 *    INSERTs / COMMIT must share a thread — the shape of every
 *    sequential SQL script; concurrent statements on other threads are
 *    never captured into someone else's transaction). A thread-POOLED
 *    frontend that spreads one logical script across threads is OUT OF
 *    SCOPE: an INSERT landing on a foreign thread commits immediately
 *    as a plain upsert — pin the script to one thread (every local
 *    `spark.sql` flow already is) before using transactions there;
 *  - only STAGEABLE KEYED UPSERTS on an EXISTING graft table defer:
 *    `INSERT INTO` and canonical `MERGE INTO ... WHEN MATCHED THEN
 *    UPDATE SET * WHEN NOT MATCHED THEN INSERT *` (the reference's own
 *    DAG cycle is two MERGEs). INSERT OVERWRITE, first-writes to empty
 *    tables, UPDATE / DELETE / clause-matrix MERGE / TRUNCATE inside an
 *    open transaction refuse loudly rather than silently running
 *    non-transactionally;
 *  - one write per table per transaction (two writes into one table
 *    would be order-dependent within a single staged version);
 *  - deferred sources EVALUATE at COMMIT (standard lazy-frame
 *    semantics): a temp view mutated between INSERT and COMMIT
 *    contributes its commit-time rows.
 *
 * The decision-marker path derives from the SORTED table set under the
 * catalog dir (`_txn/<md5(roots)>`), so a crashed COMMIT is recovered
 * by the next COMMIT over the same table set. CONCURRENT COMMITs over
 * one table set conflict loudly, never corrupt each other: the intent
 * file is a create-exclusive claim, and recovery refuses to roll back
 * an intent younger than `spark.graft.txn.intentGraceMs` (a live
 * group). In-process COMMIT failures (a CHECK violation in one member)
 * abort cleanly: upsertAtomic retracts the already-staged members and
 * the intent, so nothing stays locked.
 */
object GraftTxn {

  private final class State {
    val writes = scala.collection.mutable.ArrayBuffer
      .empty[(String, MultiSync.TableWrite)] // (display name, write)
  }

  // thread-scoped per session: a HashMap because one thread can touch
  // several sessions (tests); never shared across threads by design
  private val state =
    new ThreadLocal[java.util.HashMap[SparkSession, State]] {
      override def initialValue() = new java.util.HashMap[SparkSession, State]()
    }

  def isOpen(spark: SparkSession): Boolean = state.get.containsKey(spark)

  /** The session catalog's transaction-marker directory — every SQL
    * transaction's intent/decision/staged markers live here, so orphan
    * recovery and graft_txn_log() can find ALL pending groups without
    * knowing their table sets. */
  private[graft] def txnDir(spark: SparkSession): String =
    new org.apache.hadoop.fs.Path(
      GraftCatalog.catalogDir(spark), "_txn").toString

  /** The display name a deferred write reports: the registered catalog
    * name when one points at `root` (what COMMIT's `table` column
    * shows); path-addressed tables show their path. Shared by the
    * INSERT and canonical-MERGE defer paths. */
  private[plans] def displayFor(spark: SparkSession, root: String): String =
    GraftCatalog.list(spark)
      .find(_.root == graft.ops.VersionedTable.splitRef(root)._1)
      .map(_.name).getOrElse(root)

  /** The marker path a transaction over `roots` uses — md5 of the
    * SORTED table set, so a crashed COMMIT is also recovered by the
    * next COMMIT over the same set (BEGIN recovers regardless). */
  private[graft] def markerFor(spark: SparkSession,
                               roots: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(roots.sorted.mkString("\u0000")
        .getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    new org.apache.hadoop.fs.Path(txnDir(spark), md).toString
  }

  def begin(spark: SparkSession): Unit = {
    require(!isOpen(spark),
      "a graft transaction is already open on this thread — COMMIT or " +
        "ROLLBACK it first (transactions do not nest)")
    // complete any crashed group NOW rather than waiting for the next
    // COMMIT over the same table set: decisions roll forward, aged
    // intents roll back; live groups inside the grace are left alone.
    // One directory listing — BEGIN stays metadata-priced
    MultiSync.recoverAll(spark, txnDir(spark))
    state.get.put(spark, new State)
  }

  /** Queue a deferred INSERT/MERGE. Loud on a duplicate target. */
  private[plans] def defer(spark: SparkSession, display: String,
                           w: MultiSync.TableWrite): Unit = {
    val st = state.get.get(spark)
    require(st != null, "no open graft transaction") // guarded by caller
    require(!st.writes.exists(_._2.root == w.root),
      s"the transaction already writes $display — one write per " +
        "table per transaction")
    st.writes += ((display, w))
  }

  /** Refuse non-deferrable statements inside an open transaction. */
  private[plans] def requireNone(spark: SparkSession, what: String): Unit =
    require(!isOpen(spark),
      s"$what cannot run inside a graft transaction — only INSERT " +
        "INTO and canonical MERGE defer; COMMIT or ROLLBACK first")

  /** Discard the open transaction; returns how many deferred writes
    * were dropped. */
  def rollback(spark: SparkSession): Int = {
    val st = state.get.remove(spark)
    require(st != null, "ROLLBACK without an open graft transaction")
    st.writes.length
  }

  /** Publish every deferred INSERT atomically; returns
    * (display name, committed version) per member. An empty COMMIT is a
    * no-op that closes the transaction (zero rows). RETRYABLE failures
    * — a concurrent group holding the intent claim, its grace window,
    * or a lost staging race — leave the transaction OPEN with its
    * deferred writes intact so the user re-issues COMMIT instead of
    * replaying the whole script; non-retryable failures (a CHECK
    * violation in a member would just fail again) close it. */
  def commit(spark: SparkSession): Seq[(String, Int)] = {
    val st = state.get.get(spark)
    require(st != null, "COMMIT without an open graft transaction")
    if (st.writes.isEmpty) { state.get.remove(spark); return Seq.empty }
    val marker = markerFor(spark, st.writes.map(_._2.root).toSeq)
    val versions =
      try MultiSync.upsertAtomic(spark, st.writes.map(_._2).toSeq, marker)
      catch {
        // retryable: a concurrent commit conflicted or a plain writer won
        // a claim — the transaction stays open, a COMMIT retry restages
        case e @ (_: graft.ops.VersionedTable.ConcurrentWriteConflictException |
                  _: graft.ops.VersionedTable.StagingRaceException) =>
          throw e
        case t: Throwable =>
          state.get.remove(spark) // aborted: a replay would fail the same
          throw t
      }
    state.get.remove(spark)
    st.writes.map { case (n, w) => n -> versions(w.root) }.toSeq
  }
}
