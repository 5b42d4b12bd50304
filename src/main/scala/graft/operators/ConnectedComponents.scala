package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Connected components by iterative min-label propagation — the clustering step
 * of near-duplicate deduplication (doc → canonical cluster id).
 *
 * Two algorithms, same contract (component = min reachable id):
 *
 *  - [[run]] — iterative min-label propagation: every node takes the min of
 *    its own label and its neighbors'; converges in O(component diameter)
 *    joins. Near-dup graphs are overwhelmingly tiny components
 *    (pairs/triples), so 2-3 iterations suffice; the iteration count, not the
 *    data, is the driver-side loop (each step is a distributed join — no
 *    collect()).
 *  - [[runStar]] — alternating large-star/small-star (Kiveris et al.,
 *    "Connected Components in MapReduce and Beyond", SoCC'14): each round
 *    rewires every node toward its neighborhood minimum, roughly squaring the
 *    distance covered per round — O(log² n) rounds on ANY graph, so a
 *    10⁶-node chain needs ~20 rounds where propagation needs 10⁶. Use it when
 *    component diameters are unknown/adversarial; [[run]] remains the cheaper
 *    choice for shallow dedup graphs.
 *
 * Fault-tolerance note: by default both loops cut lineage with
 * `localCheckpoint`, whose blocks live only on executors — losing an executor
 * mid-run fails the job (resubmit it) instead of silently recomputing as a
 * cache would. That is the standard iterative-graph trade (uncut lineage grows
 * the logical plan exponentially in rounds — see the loop comments). For long
 * cluster runs where executor churn is expected, pass `checkpointDir`
 * (an HDFS/S3 path): the loops then use RELIABLE `checkpoint()` — each
 * generation is persisted to the fault-tolerant store, so a lost executor
 * recomputes from the last checkpoint instead of failing the job. Labels are
 * identical either way (spec-pinned); the knob only trades executor-memory
 * speed against checkpoint-store durability.
 */
object ConnectedComponents {

  /**
   * @param nodes  one row per node
   * @param idCol  node id column (orderable; min id becomes the component label)
   * @param edges  undirected edge list (aCol, bCol) — direction ignored
   * @param checkpointDir reliable checkpoint directory (HDFS/S3) — when set,
   *        per-iteration lineage cuts use fault-tolerant `checkpoint()` instead
   *        of executor-local blocks (see the object scaladoc)
   * @return (idCol, component) — component = min node id reachable
   */
  def run(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(ensureCheckpointDir(nodes, _))
    val sym0 = edges.select(col(aCol).as("__src"), col(bCol).as("__dst"))
      .union(edges.select(col(bCol).as("__src"), col(aCol).as("__dst")))
      .distinct()
      .cache()
    // Size the iteration's shuffles to the EDGE frame, not the session default:
    // near-dup graphs are tiny relative to the corpus (hundreds of edges at
    // sf0.1), and every iteration is 2 shuffles — 32 near-empty partitions per
    // stage would make scheduler latency dominate. The count also materializes
    // the cache before the loop. (~100k edge rows per partition, capped at the
    // input's own parallelism for genuinely large graphs.)
    val nSym = sym0.count()
    val parts = math.max(1, math.min((nSym / 100000L).toInt + 1,
      sym0.rdd.getNumPartitions))
    val sym = sym0.repartition(parts, col("__dst")).cache()
    sym.count() // materialize the repartitioned cache FROM sym0's cache...
    sym0.unpersist() // ...before dropping it (else the edge lineage recomputes)
    // Only edge-touched nodes can change labels — iterate over those; isolated
    // nodes (the overwhelming majority in dedup graphs) are unioned back at the
    // end as their own singleton components. (No cache: the frame has exactly
    // one consumer, the initial label checkpoint below.)
    val edgeNodes = sym.select(col("__src").as("__id")).distinct()
    val reliable = checkpointDir.isDefined
    var (labels, labelsHandle) = checkpointWithHandle(
      edgeNodes.select(col("__id"), col("__id").as("__comp"))
        .repartition(parts, col("__id")), reliable)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // min label among each node's neighbors
      val neighborMin = sym
        .join(labels.select(col("__id").as("__dst"), col("__comp")), "__dst")
        .groupBy(col("__src")).agg(min(col("__comp")).as("__nmin"))
        .select(col("__src").as("__id"), col("__nmin"))
      // Carry the changed-flag inside the propagation frame so convergence is
      // one aggregate over `next` — no second join / second action per round.
      //
      // Checkpoint, NOT cache: caching reuses physical results but the
      // LOGICAL plan still nests the whole previous iteration ~3× per round,
      // so deep iteration (long-diameter graphs near maxIter) grows the plan
      // ~3^iter and Catalyst dies building it (observed: OOM in plan
      // stringification at ~20 rounds). The lazy checkpoint is materialized by
      // the convergence aggregate below — no extra job — and the superseded
      // generation is released deterministically right after.
      val (next, nextHandle) = checkpointWithHandle(
        labels.join(neighborMin, Seq("__id"), "left")
          .select(col("__id"),
            least(col("__comp"), coalesce(col("__nmin"), col("__comp"))).as("__comp"),
            (coalesce(col("__nmin"), col("__comp")) < col("__comp")).as("__changed")),
        reliable)
      val anyChanged = next
        .agg(coalesce(max(col("__changed")), lit(false))).head().getBoolean(0)
      releaseGeneration(labelsHandle) // next is materialized — free the old generation
      labelsHandle = nextHandle
      labels = next.select(col("__id"), col("__comp"))
      converged = !anyChanged
      iter += 1
    }
    sym.unpersist()
    // the FINAL generation stays persisted for the caller's consumption; the
    // ContextCleaner frees it once the returned frame is unreferenced
    nodes.select(col(idCol).as("__id"))
      .join(labels, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__comp"), col("__id")).as("component"))
  }

  /** `setCheckpointDir` mutates GLOBAL SparkContext state (every later
    * `checkpoint()` user in the session inherits it; concurrent runs with
    * different dirs are last-set-wins — a documented side effect of Spark's
    * one-dir-per-context design, not something an operator can scope). Only
    * touch it when the context has no dir under `dir` yet: repeated runs with
    * the same base dir then share one context dir instead of piling up UUID
    * subdirectories, and a caller-preset dir is never clobbered by accident.
    * (Spark appends a random UUID subdir, so compare by prefix.) */
  private def ensureCheckpointDir(nodes: DataFrame, dir: String): Unit = {
    val sc = nodes.sparkSession.sparkContext
    if (!sc.getCheckpointDir.exists(_.startsWith(dir))) sc.setCheckpointDir(dir)
  }

  /** Release a superseded generation: free its blocks, and for RELIABLE
    * checkpoints also best-effort delete its checkpoint FILES — the next
    * generation is already materialized and checkpointed (its lineage is
    * truncated at its own files), so the superseded files can never be
    * re-read; without this an hours-long run leaks one rdd-N directory per
    * iteration unless `spark.cleaner.referenceTracking.cleanCheckpoints` is
    * on (off by default). */
  private def releaseGeneration(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]): Unit = {
    rdd.unpersist(false)
    rdd.getCheckpointFile.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Lineage-cutting checkpoint with a DETERMINISTIC release handle: marks
    * the frame's row RDD for checkpoint and rebuilds a flat-plan frame
    * over it. The checkpoint stays LAZY — the caller's next action
    * materializes it — and once the following generation is materialized the
    * caller unpersists the handle, freeing the superseded iteration's blocks
    * immediately. (Plain `Dataset.localCheckpoint` offers no handle: release
    * then waits on a driver GC to run the ContextCleaner, and a deep loop
    * piles up to maxIter generations of blocks on executor storage.)
    *
    * `reliable = true` switches to fault-tolerant `checkpoint()` against the
    * context's checkpoint dir (caller must have set it). The RDD is also
    * persisted: a reliable checkpoint otherwise recomputes its parent lineage
    * a second time when writing the checkpoint files after the first action.
    * `unpersist` on the handle then releases the cached blocks; the checkpoint
    * FILES outlive the generation (that durability is the point) and are
    * reclaimed by the ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on, or by dir
    * cleanup after the job. */
  private def checkpointWithHandle(
      df: DataFrame, reliable: Boolean = false)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val rdd = df.rdd
    if (reliable) {
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else {
      rdd.localCheckpoint()
    }
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Large-star: every strictly-larger neighbor of u is rewired to
    * min(Γ(u) ∪ {u}). Input edges in any orientation; output edges all point
    * strictly downward (larger id → smaller id). Preserves connectivity
    * (Kiveris et al. Lemma 1) while collapsing high branches.
    *
    * ONE exchange (r16): the per-neighborhood minimum is a window aggregate
    * over the symmetrized edges — the previous groupBy-min + shuffle-join +
    * distinct formulation paid THREE exchanges per star, and on small graphs
    * the per-round stage scheduling (not data) was the measured floor
    * (BASELINE.md round-15 receipt). Dropping the distinct is safe because the star
    * transforms are per-row maps whose minimum is duplicate-insensitive:
    * each input row produces at most one output row, so the row count is
    * NON-increasing round over round (duplicates never multiply — that only
    * happened through the old join fanout), the SET trajectory — and hence
    * the labels — is identical to the distinct'd version, and at a star-forest
    * fixed point the transforms preserve multiplicities EXACTLY, so the
    * multiset convergence checksum still stops on the same round. Skew note:
    * a component root's window partition holds its whole component's edges;
    * WindowExec buffers it in a spillable external array (no OOM), but unlike
    * a shuffle join AQE cannot split a window partition — the single-task
    * sort of a giant component's partition is the price of the fused round,
    * and large-star itself is the skew-buster for every non-root node. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("__u"), col("__v"))
      .union(e.select(col("__v").as("__u"), col("__u").as("__v")))
    val w = Window.partitionBy(col("__u"))
    // min over Γ(u) ∪ {u}; only rows with a strictly-larger neighbor emit,
    // and m ≤ u < v makes an emitted self-edge impossible — no filter needed.
    // __mv marks a REWIRED row (m ≠ u ⇔ the emitted edge differs from the
    // input edge) — the exact per-round fixed-point signal runStar aggregates.
    sym.select(col("__u"), col("__v"),
        least(col("__u"), min(col("__v")).over(w)).as("__m"))
      .filter(col("__v") > col("__u"))
      .select(col("__v").as("__u"), col("__m").as("__v"),
        (col("__m") =!= col("__u")).as("__mv"))
  }

  /** Small-star: on downward-pointing edges, every smaller neighbor of u is
    * rewired to m = min(Γ(u)), and u keeps its own edge to m. Output edges
    * still point strictly downward.
    *
    * ONE exchange, same argument as [[largeStar]]: per input row, either the
    * row IS a minimum witness (v == m → emit u's own edge (u, m), at least
    * one per group) or it rewires (v, m); both branches stay strictly
    * downward, so no self-edge filter is needed and every group's output
    * covers exactly the old moved ∪ minN set. */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__u"))
    // input = largeStar output, so __mv is present; OR this star's own
    // rewires (v ≠ m ⇔ the emitted edge differs from the input edge) into it
    e.select(col("__u"), col("__v"), col("__mv"), min(col("__v")).over(w).as("__m"))
      .select(
        when(col("__v") === col("__m"), col("__u")).otherwise(col("__v")).as("__u"),
        col("__m").as("__v"),
        (col("__mv") || (col("__v") =!= col("__m"))).as("__mv"))
  }

  /** [[largeStar]] re-expressed as groupBy-min + shuffle join — the SKEW-SAFE
    * physical shape for megacomponent graphs (r16 ADVICE): the fused window
    * puts a component root's ENTIRE neighborhood into one window partition,
    * which spills but cannot be split by AQE, serializing a giant component's
    * sort into a single task. Here the per-u minimum is a partial-aggregating
    * groupBy (each map task emits at most one row per u regardless of skew)
    * and the join back on `__u` is an exchange AQE's skew-join splits — the
    * hot key's big-side partition shards across tasks while the one matching
    * min row duplicates.
    *
    * The per-key mins frame is LINEAGE-CUT (lazy checkpoint) before the
    * join, and that is load-bearing, not an optimization (probed,
    * `SkewSplitProbe`): OptimizeSkewedJoin only matches a sort-merge join
    * whose children are DIRECT shuffle stages; left as a lazy aggregate,
    * the final min sits between its exchange and the join inside one stage
    * and the rule never fires (an explicit same-key repartition collapses
    * away — also probed). The checkpoint handle is returned so [[runStar]]
    * can release the blocks once the round's chain has materialized.
    * Result-identical per row to [[largeStar]] (the window min over a
    * partition IS the groupBy min), property-pinned in CCProps. */
  private def largeStarJoin(e: DataFrame, reliable: Boolean)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val sym = e.select(col("__u"), col("__v"))
      .union(e.select(col("__v").as("__u"), col("__u").as("__v")))
    val mins0 = sym.groupBy(col("__u"))
      .agg(min(col("__v")).as("__minv"))
      .select(col("__u"), least(col("__u"), col("__minv")).as("__m"))
    val (mins, handle) = checkpointWithHandle(mins0, reliable)
    val out = sym.join(mins, Seq("__u"))
      .filter(col("__v") > col("__u"))
      .select(col("__v").as("__u"), col("__m").as("__v"),
        (col("__m") =!= col("__u")).as("__mv"))
    (out, handle)
  }

  /** [[smallStar]] in the skew-safe groupBy-min + join shape — see
    * [[largeStarJoin]] (including the load-bearing lineage cut on mins). */
  private def smallStarJoin(e: DataFrame, reliable: Boolean)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val (mins, handle) = checkpointWithHandle(
      e.groupBy(col("__u")).agg(min(col("__v")).as("__m")), reliable)
    val out = e.join(mins, Seq("__u"))
      .select(
        when(col("__v") === col("__m"), col("__u")).otherwise(col("__v")).as("__u"),
        col("__m").as("__v"),
        (col("__mv") || (col("__v") =!= col("__m"))).as("__mv"))
    (out, handle)
  }

  /**
   * Alternating large-star/small-star components (Kiveris et al., SoCC'14) —
   * the adversarial-diameter path: O(log² n) rounds regardless of component
   * shape, where [[run]] needs O(diameter) rounds. Same output contract as
   * [[run]]: (idCol, component), component = min node id reachable.
   *
   * Per round: large-star + small-star — ONE window exchange each (r16; was
   * ~5 exchanges of groupBy + join + distinct per round). Convergence (r17)
   * is an EXACT per-round movement flag, not a checksum: both star maps are
   * per-row, and a row either re-emits its input edge or rewires it to a
   * strictly-smaller endpoint sum, so `bool_or(__mv)` over the round's
   * output (one boolean carried through the two window selects — no extra
   * exchange) is false iff the round was the identity on the edge multiset,
   * i.e. a star-forest fixed point. This replaces the former
   * (count, xxhash64-XOR, seeded-XOR) multiset checksum: deterministic
   * (the checksum stop was probabilistic, ~2^-128 false-stop), needs no
   * prev-round state, and stops on the FIRST identity round — the checksum
   * needed two equal checks, i.e. up to `2·checkEvery` extra rounds. No
   * collect() of edges, no driver-side graph state.
   *
   * The check runs every `checkEvery` rounds (default 2), not every round:
   * on small graphs the per-action job submission is the measured floor
   * (BASELINE.md round-15 receipt: ~0.4 s/round of pure scheduling), and a lazy
   * checkpoint chain of `checkEvery` rounds materializes in the ONE check
   * job. The trade is up to `checkEvery - 1` extra (cheap, already-fixed-
   * point) rounds after convergence in exchange for half the driver
   * round-trips — at real scale rounds dominate and `checkEvery = 1`
   * recovers the per-round check. Superseded checkpoint generations are
   * released at each check, once the chain ahead of them is materialized
   * (releasing a local checkpoint's blocks before a dependent is
   * materialized would make the chain unrecomputable).
   *
   * @param checkpointDir reliable checkpoint directory — see [[run]].
   * @param checkEvery    convergence-check cadence in rounds (≥ 1).
   * @param onRound       instrumentation hook, called once per completed
   *                      round with the 1-based round number (benchmarks
   *                      read convergence-round counts through it; no-op by
   *                      default and free on the hot path).
   * @param skewSafe      physical-shape knob, result-identical either way
   *                      (property-pinned). Default `false` = fused window
   *                      stars (ONE exchange per star — the local/shallow-
   *                      graph floor-breaker, r16); `true` = groupBy-min +
   *                      join stars ([[largeStarJoin]]) whose join IS
   *                      AQE-skew-splittable — verified by `SkewSplitProbe`
   *                      (`skew=true` in the final adaptive plan), which
   *                      requires the per-round lineage cut on the mins
   *                      frames that largeStarJoin/smallStarJoin perform
   *                      (blocks released at the next checksum). Set it when
   *                      one component may hold a large share of ALL edges
   *                      (star contraction funnels a component's whole edge
   *                      set into its root's key by the final rounds — a
   *                      megacomponent then serializes the fused window's
   *                      per-key sort into one task, while the join shape
   *                      shards it across the cluster).
   *                      CROSSOVER (r18 receipt,
   *                      plans/r18/CC_SKEW_STAR_cpus{8,32}.json): on ONE box
   *                      there is none up to the 4M-edge pure star — the
   *                      window shape wins ~2× at BOTH 32 and 8 cores. But
   *                      its time is core-count-INSENSITIVE (9.0 s at 32
   *                      cores, 9.4 s at 8 — quartering the cores costs 5%),
   *                      which is the serialization signature: the hot key's
   *                      single-task sort is the floor and extra local cores
   *                      cannot buy it down. The crossover is therefore a
   *                      CLUSTER property — once executors × cores exceed
   *                      what one task can use, the window shape's
   *                      megacomponent round cost stays O(hot edges) serial
   *                      while the join shape's exchanges scale out — so
   *                      `skewSafe=true` is insurance priced at ~2× local,
   *                      bought exactly when the graph is megacomponent-
   *                      shaped AND the deployment is multi-node.
   */
  def runStar(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 30, checkpointDir: Option[String] = None,
      checkEvery: Int = 2, onRound: Int => Unit = _ => (),
      skewSafe: Boolean = false): DataFrame = {
    checkpointDir.foreach(ensureCheckpointDir(nodes, _))
    val reliable = checkpointDir.isDefined
    // maxRounds = 0 would label nodes from RAW input-orientation edges (a
    // node's component could exceed its own id) — reject rather than violate
    // the min-reachable-id contract
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
    // Each round's plan references the previous round's frame ~9 times (both
    // stars read their input severally), so carrying lineage would grow the
    // logical plan 9^round — the per-round checkpoint cuts it, keeping every
    // round's plan flat. Lazy checkpoints piggyback on the round's checksum
    // action (no extra job); superseded generations are released
    // deterministically via their RDD handles.
    // No initial distinct (r16): the fused stars are duplicate-tolerant (see
    // largeStar — per-row maps, row count non-increasing, identical SET
    // trajectory), so the exchange it cost is pure waste for the common
    // already-distinct edge relations (e.g. a groupBy output). Callers
    // feeding HEAVILY duplicated edge lists should pre-distinct themselves:
    // duplicate volume carries (without growing) through the rounds.
    var (e, eHandle) = checkpointWithHandle(
      edges.select(col(aCol).as("__u"), col(bCol).as("__v"))
        .filter(col("__u") =!= col("__v")), reliable)
    var round = 0
    var converged = e.isEmpty
    // NOTE (r14, measured): sizing the per-round frames to the edge count
    // (run()'s repartition stance, tried as coalesce-at-checkpoint) does NOT
    // move the small-graph round floor here — warm receipts were flat-to-
    // worse (the extra count action costs more than 32-vs-1 blocks save).
    // r16 attacks the remaining floor directly: 2 window exchanges per round
    // (was ~5) and one checksum job per `checkEvery` rounds (was one per
    // round), which amortize at real scale anyway.
    // Generations superseded since the last materializing action — their
    // blocks must stay until the chain ahead of them is materialized.
    var pendingRelease = List.empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    while (round < maxRounds && !converged) {
      val stepped =
        if (skewSafe) {
          // each star lineage-cuts its per-key mins (see largeStarJoin) —
          // those blocks must live until the round's chain materializes at
          // the next checksum, exactly the pendingRelease contract
          val (ls, h1) = largeStarJoin(e, reliable)
          val (ss, h2) = smallStarJoin(ls, reliable)
          pendingRelease = h1 :: h2 :: pendingRelease
          ss
        } else smallStar(largeStar(e))
      val (next, nextHandle) = checkpointWithHandle(stepped, reliable)
      pendingRelease ::= eHandle
      e = next
      eHandle = nextHandle
      round += 1
      onRound(round)
      if (round % checkEvery == 0 || round == maxRounds) {
        // exact fixed-point test: did ANY row of the latest round rewire?
        // (empty round output ⇒ no movement possible ⇒ converged)
        val moved = e
          .agg(coalesce(bool_or(col("__mv")), lit(false))).head().getBoolean(0)
        // the check materialized every pending generation's successor —
        // the superseded blocks are now safe to free
        pendingRelease.foreach(releaseGeneration)
        pendingRelease = Nil
        converged = !moved
      }
    }
    // pendingRelease is provably empty here: converged is only set at a
    // check, and `round == maxRounds` forces the final check — every loop
    // exit path has just drained it.
    // stars point every non-root node at its component minimum; roots and
    // isolated nodes label themselves via the left join. The min-aggregate is
    // the identity on a converged star forest (one edge per non-root node) but
    // preserves the one-row-per-node contract if the loop exhausted maxRounds
    // before the fixed point — a node can then still hold edges to several
    // hubs, and a raw join would fan out (labels degrade to best-so-far, the
    // same failure mode as run() past maxIter, instead of duplicating rows).
    val labels = e.groupBy(col("__u")).agg(min(col("__v")).as("__comp"))
      .select(col("__u").as("__id"), col("__comp"))
    nodes.select(col(idCol).as("__id"))
      .join(labels, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__comp"), col("__id")).as("component"))
  }

  /**
   * INCREMENTAL connected components — relabel after a crawl increment
   * WITHOUT re-mining the old corpus's edges: a prior labeling is exactly a
   * star forest (node → component root) that preserves the old subgraph's
   * connectivity, so running components over (old star edges) ∪ (edges
   * touching the new batch) yields the SAME labeling as a full recompute
   * over every edge ever found. At 100 TB this is the difference between
   * re-pairing the whole corpus each crawl and pairing only
   * new-vs-(signatures + new) — the [[graft.operators.Dedup.minHashSignatures]] /
   * `nearDupFromSignaturesBetween` companion for the clustering step.
   *
   * @param oldLabels prior `(idCol, component)` labeling (from [[run]] /
   *        [[runStar]] / a previous incrementalRun)
   * @param nodes     ALL nodes after the increment (old ∪ new)
   * @param newEdges  edges involving the new batch (new-new and old-new;
   *        old-old pairs are already summarized by the star edges)
   * @return (idCol, component) over all of `nodes` — component = min
   *         reachable node id, identical to a full [[run]] on the union
   *         edge set.
   */
  def incrementalRun(
      oldLabels: DataFrame, nodes: DataFrame, idCol: String,
      newEdges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    val starEdges = oldLabels
      .filter(col(idCol) =!= col("component"))
      .select(col(idCol).as(aCol), col("component").as(bCol))
    run(nodes, idCol, starEdges.unionByName(newEdges.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter, checkpointDir)
  }

  /**
   * Duplicate-CLUSTER SIZE distribution over a `(id, component)` labeling —
   * the corpus-health audit read before committing a dedup run: how many
   * singletons, how many pairs, are there megaclusters (a megacluster
   * usually means boilerplate the near-dup threshold is too loose for, and
   * it is also where a naive "keep one per cluster" destroys the most
   * data). Two partial-aggregating groupBys over 2 longs/row — at 100 TB
   * this is the only safe way to LOOK at cluster structure before acting
   * on it.
   * @return (cluster_size, n_clusters) — one row per distinct size.
   */
  def sizeHistogram(labels: DataFrame, componentCol: String = "component"): DataFrame =
    labels.groupBy(col(componentCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
}
