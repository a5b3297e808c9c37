package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.FuzzyDedup

/**
 * SemDeDup-style semantic deduplication over an embedding column: bucket
 * the space into deterministic cells, verify cosine pairs ONLY within a
 * cell, connected-components the survivors, keep the min-id representative
 * per cluster (SemDeDup: Abbas et al. 2023, arXiv:2303.09540 — k-means
 * cells + within-cluster cosine prune).
 *
 * Scale shape: identical to the lexical dedup family — cells bound the
 * quadratic verify exactly like LSH bands / Jaccard blocks (never
 * all-pairs), one shuffle per stage, and the component step reuses
 * FuzzyDedup.connectedComponents (size-probed driver union-find with
 * distributed fallback). Cell assignment here is the SIGN PATTERN of the
 * first `signBits` dimensions — deterministic, zero-state, SQL-replayable
 * (an axis-aligned SRP; k-means cells would be float-iterative and
 * non-replayable by an oracle; swap withSignCell for an ivf assignment if
 * recall matters more than replayability). Cross-cell near-dups are missed
 * by construction — the same contract SemDeDup accepts for its k-means
 * cells; raise signBits for smaller cells (tighter verify bound, lower
 * recall) or lower it for the reverse.
 */
object SemDedup {

  /** Cell id = Σ_j (v[offset+j] > 0) · 2^j over `signBits` dims starting
    * at `offset` (0-based). The offset exists for feature spaces whose
    * leading dims carry no sign information — e.g. byte-histogram
    * features of ASCII payloads, where dims 0..31 are identically zero
    * and the informative mass sits in the letter range (the multimodal
    * perceptual-dedup query anchors its window at byte 'a'). */
  def withSignCell(df: DataFrame, vec: String, signBits: Int,
                   out: String = "cell", offset: Int = 0): DataFrame = {
    // 30 keeps the cell id inside a positive Int (1 << j per bit)
    require(signBits > 0 && signBits <= 30, s"signBits out of range: $signBits")
    require(offset >= 0, s"negative sign-window offset: $offset")
    val cell = (0 until signBits)
      .map(j => when(col(vec)(offset + j) > lit(0f), lit(1 << j))
        .otherwise(lit(0)))
      .reduce(_ + _)
    df.withColumn(out, cell)
  }

  /** Near-duplicate pairs within sign cells at `minCosine`. `grid` > 1
    * grid-parallelizes a skewed dominant cell (see
    * [[Similarity.blockedNearDupPairs]]). */
  def cellNearDupPairs(df: DataFrame, id: String, vec: String,
                       minCosine: Double, signBits: Int = 4,
                       signOffset: Int = 0, grid: Int = 1): DataFrame =
    Similarity.blockedNearDupPairs(
      withSignCell(df, vec, signBits, offset = signOffset), id, vec,
      "cell", minCosine, grid)

  /** Corpus minus all non-representative members of every within-cell
    * cosine cluster (keep = min id per component).
    *
    * Exact-identical vectors COLLAPSE before the quadratic: the
    * within-cell verify runs on one min-id representative per distinct
    * vector, and copies attach to their representative by star edges.
    * Components are PROVABLY unchanged — an exact copy is cosine-1 to its
    * representative (≥ any threshold ≤ 1) and shares its sign cell, so
    * the star edge replaces edges the full verify would have found; any
    * copy↔copy edge maps to the identical representative↔representative
    * edge. What changes is cost: per-cell work is quadratic in DISTINCT
    * vectors, immune to duplicate multiplicity — the adversarial 64×
    * replication probe (every embedding duplicated 64×) went superlinear
    * on the uncollapsed form because each cell held 64 copies of
    * everything (DedupScaleProbe). Duplicate-heavy corpora are the NORM
    * at 100 TB (dup documents embed identically), so the collapse is the
    * default, not an option. NULL embeddings never pair (unchanged). */
  def semanticDedup(df: DataFrame, id: String, vec: String,
                    minCosine: Double, signBits: Int = 4,
                    signOffset: Int = 0, grid: Int = 1): DataFrame = {
    // Collapse eligibility requires a positive finite norm: a zero (or
    // NaN-carrying) vector has an UNDEFINED cosine to its own copy —
    // the verify never pairs such rows (NaN >= threshold is false), so a
    // star edge between identical degenerate vectors would merge rows
    // the uncollapsed algorithm keeps apart. Degenerate rows skip the
    // collapse and flow through as their own singletons, exactly as
    // before.
    // norm² via the codegen'd DotProduct node, NOT the aggregate() HOF:
    // the HOF is CodegenFallback — it breaks whole-stage codegen for the
    // filter and pays a boxed lambda closure per element per row, which
    // measured as seconds of single-task wall on the collapse legs. Same
    // left-to-right double fold, bit-identical result, null element →
    // null either way.
    val norm2 = graft.functions.VectorFunctions.vecDot(col(vec), col(vec))
    val collapsible = df.filter(col(vec).isNotNull)
      .filter(norm2 > lit(0d) && !isnan(norm2))
    // window key = (xxhash64(vec), vec), NOT vec alone. Grouping is
    // IDENTICAL — the hash is a deterministic function of the vector, so
    // the distinct key tuples are in bijection with distinct vectors
    // (collisions cannot merge groups; the vector stays in the key). What
    // changes is cost: NormalizeFloatingNumbers rewrites a bare float-
    // array partition key into an interpreted per-row transform(), and
    // the window sort then compares whole arrays through it — measured
    // as seconds of single-task wall. With the long prefix the sort
    // resolves almost every comparison on the hash and touches the
    // array only for (probably equal) colliding rows.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col(vec)), col(vec))
    // Materialize the windowed frame ONCE: its three
    // consumers — the verify self-join's two sides and the star-edge
    // leg — do not share one query execution (a broadcast build side
    // materializes as its own execution, so ReusedExchange cannot
    // deduplicate the array-keyed window shuffle across them), and an
    // unmaterialized plan pays that corpus-wide shuffle once per
    // consumer. Same decision the BPE loop documents: the checkpoint is
    // load-bearing plan hygiene, not caching. At cluster scale replace
    // with a durable staging write if executor loss matters
    // (localCheckpoint is not resilient).
    // explicit-N round-robin repartition AFTER the window, BEFORE the
    // checkpoint: AQE coalesces the window's small ENSURE_REQUIREMENTS
    // exchange to one partition, and a 1-partition checkpoint would
    // serialize every downstream verify task onto a single core no
    // matter the cluster (the 1-split trap the multimodal featurize leg
    // pins). A user-specified partition count is not AQE-coalescible.
    val withRep = collapsible.withColumn("__rep", min(col(id)).over(w))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val starEdges = withRep.filter(col(id) =!= col("__rep"))
      .select(col("__rep").as("id1"), col(id).as("id2"))
    val degenerate = df.filter(col(vec).isNotNull)
      .filter(!(norm2 > lit(0d) && !isnan(norm2)))
    val reps = withRep.filter(col(id) === col("__rep")).drop("__rep")
      .unionByName(degenerate)
    FuzzyDedup.applyDedup(df, id,
      cellNearDupPairs(reps, id, vec, minCosine, signBits, signOffset,
        grid)
        .select(col("id1"), col("id2"))
        .unionByName(starEdges))
  }
}
