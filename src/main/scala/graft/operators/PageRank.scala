package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Power-iteration PageRank (damping 0.85) in integer fixed-point
  * rank-micros (1e6 = rank 1.0): per-edge contribution is
  * floor(rank/deg) and the damping update is 150000 + (85·Σ)//100, so
  * every engine — and every task retry — produces the same bits, no
  * float-sum order dependence anywhere. The DuckDB oracle unrolls the
  * identical rounds as chained CTEs (see `graph_pagerank`).
  *
  * The rank vector is SPLIT ONCE into its static and dynamic parts,
  * which removes the per-round rank-update join entirely:
  *
  *   - nodes with no in-edges (isolated, or source-only in a directed
  *     feed) hold rank 150000 from round 1 forever — computed once,
  *     unioned into the result (and, for source-only nodes, into the
  *     contribution input) as constants;
  *   - every other node receives ≥ 1 contribution EVERY round (the
  *     edge set is static), so the contribution sum's key set is
  *     exactly the dynamic node set and the next iterate is a pure
  *     projection of the sum — no join, no coalesce.
  *
  * Per round that leaves ONE broadcast (the rank vector — orders of
  * magnitude smaller than the edge set) + ONE map-side-combined
  * shuffle (the contribution sum). The SRC node's degree is folded
  * into the edge cache once at prepare time (a broadcast join under
  * the gate, the co-partitioning join past it), so the iterate is the
  * minimal (id, rank) pair in every regime — no degree-attach join,
  * no carried degree column in the per-round aggregate, anywhere in
  * the loop.
  *
  * Fixed-cost discipline (round-10 verdict item 1 — prepare barriers
  * dominated small-scale runs): prepare runs exactly TWO actions
  * before the gate decision. The edge checkpoint materializes the
  * caller's edge pipeline (often an expensive LSH pair derivation) —
  * which has to run once regardless — and, just as importantly,
  * TRUNCATES the pipeline out of every later logical plan: with a
  * lazily-cached edge layout instead, every one of the run's ~7
  * actions re-analyzed the full multi-hundred-node LSH tree before
  * the cache lookup could substitute it, and that per-action driver
  * planning cost exceeded the one checkpoint it saved (measured this
  * round: lazy-everything ran ~1 s/rep SLOWER at sf0.1). The degree
  * checkpoint is node-sized, feeds init / the static split / the
  * per-round degree attach from a truncated leaf, and its count IS
  * the gate probe — the true broadcast size (the rank-vector row
  * count), not the |nodes| upper bound.
  *
  * Lineage truncates on the checkpoint schedule {2, 4, 10, 16, …}
  * (gaps 2, 2, 6, 6, …): one early probe point as cheap insurance for
  * a genuinely fixed-point corpus (uniform clique graphs equalize
  * immediately), then long tails run as single actions instead of
  * paying a barrier every other round — denser probe points were
  * measured pure waste (integer-floor rank dynamics keep drifting
  * through round 10 on every fixture incl. the 30× clone smoke).
  * Convergence early-exit compares consecutive CHECKPOINTS: the
  * update is deterministic, so x_i = x_{i−g} makes the tail periodic
  * with period dividing the gap g, and the exit fires only when the
  * REMAINING round count is a multiple of g — the emitted bits are
  * identical to running every round (and to the unrolled oracle),
  * whichever schedule runs.
  *
  * Two physical regimes, chosen at runtime (an over-ceiling broadcast
  * hint FAILS the job rather than falling back, so the fallback must
  * be runtime — see [[ConnectedComponents.BroadcastNodeLimit]]):
  *
  *   - UNDER the gate: rank broadcasts each round, and the edge table
  *     is hash-partitioned on `dst` — the AGGREGATION key — and
  *     persisted once (filled inside the first checkpoint action), so
  *     each round is ONE zero-exchange stage (cached scan → broadcast
  *     join → contribution sum riding the cached layout).
  *   - PAST the gate (rank vector too big to broadcast): the
  *     degree-annotated edge table is hash-partitioned on `src`,
  *     sorted, and PERSISTED once — an InMemoryRelation preserves
  *     both partitioning and ordering, so every round's edge⋈rank
  *     join is a zero-exchange zero-sort merge on the edge side
  *     (localCheckpoint would drop the layout under AQE, hence
  *     cache). The rank iterates persist id-partitioned.
  *     Per-iteration network cost is O(|V|) — the contribution
  *     shuffle — never O(|E|): the edge table is exchanged exactly
  *     once for the whole run.
  */
object PageRank {

  /** The iteration-invariant inputs, exposed so plan specs can assert
    * one round's physical shape: the cached edge table (hash(dst)
    * under the gate, co-partitioned+sorted on `src` past it — always
    * src-degree-annotated), the initial rank vector over the
    * CONTRIBUTING (src) nodes, the per-round rank-side wrapper (the
    * regime-gated broadcast hint), the regime flag, and the two
    * static rank parts
    * (source-only nodes — `None` for a caller-declared symmetric
    * graph, where every src is also a dst by construction — joined
    * into every post-first-round iterate; no-edge nodes, unioned into
    * the final result).
    */
  def prepare(nodes: DataFrame, edges: DataFrame,
      broadcastNodeLimit: Long = ConnectedComponents.BroadcastNodeLimit,
      symmetric: Boolean = false, edgesTruncated: Boolean = false)
      : (DataFrame, DataFrame, DataFrame => DataFrame, Boolean,
        Option[DataFrame], DataFrame) = {
    val timing = nodes.sparkSession.conf
      .getOption("spark.graft.graph.timing").contains("true")
    def t[T](tag: String)(f: => T): T = {
      val s0 = System.nanoTime()
      val r = f
      if (timing) println(
        f"[pagerank] prepare $tag ${(System.nanoTime() - s0) / 1e9}%.2f s")
      r
    }
    // the two prepare actions (object doc): materialize + truncate the
    // edge pipeline, then the node-sized degree table whose count is
    // the gate quantity — the rank-vector row count itself.
    // `edgesTruncated` callers already checkpointed the expensive part
    // (e.g. the DIRECTED half of a symmetrized pair set — half the
    // checkpoint write) and pass a trivially-cheap plan over those
    // leaves; re-checkpointing it here would double-materialize.
    val ed =
      if (edgesTruncated) edges
      else t("edges-ckpt")(edges.localCheckpoint())
    val deg = t("degree-ckpt")(
      ed.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .localCheckpoint())
    // one job over the checkpointed degree yields BOTH gate inputs:
    // |distinct src| (the rank-vector row count — the thing that
    // broadcasts) and |E| = Σ dg (sizes the under-gate edge layout)
    val stats = t("gate-count")(
      deg.agg(count(lit(1)), sum(col("dg"))).head())
    val underGate = stats.getLong(0) <= broadcastNodeLimit
    // the under-gate cached layout fixes the per-round task count for
    // the whole run, and AQE cannot re-plan an explicit cached
    // partitioning — so size it from the MEASURED edge count, capped
    // at min(shuffle parallelism, scheduler core count). The 65,536
    // rows per partition are a TASK-GRANULARITY floor, not a
    // storage target: it only governs how large |E| must be before
    // another task is worth launching, so a tiny graph runs each round
    // as a couple of tasks instead of a shuffle-partitions-wide stage
    // of empty launches, while anything past cap × floor rows (the
    // 100 TB regime, and already the 30× smoke) gets the full width —
    // a 1 M floor measured 6× under-parallel there (5 tasks on 32
    // cores for a 4 M-edge cache, every round). The core-count clamp
    // matters because the loop scans this EXACT layout ~10 times: at
    // 64 shuffle partitions on 32 cores (the smoke session) a 62-task
    // cache pays TWO scheduling waves per round for zero parallelism
    // gain; one wave of core-count tasks scans the same bytes.
    val edgeParts = {
      val e = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      val cap = math.min(
        nodes.sparkSession.sessionState.conf.numShufflePartitions,
        nodes.sparkSession.sparkContext.defaultParallelism)
      math.max(1L, math.min(cap.toLong, e / 65536L + 1)).toInt
    }
    // the static split (shared by all regimes): source-only nodes
    // (∉ dst) freeze at 150000 after round 1 but keep contributing;
    // nodes with no edges at all freeze likewise and only appear in
    // the result. A symmetric graph has src set == dst set, so the
    // source-only part is empty BY CONSTRUCTION and the no-edge part
    // is a single LAZY anti-join against the checkpointed degree —
    // the dst-distinct materialization and the emptiness probe (the
    // one eager decision the loop structure needs) both disappear.
    // The node-sized build sides take the regime-gated broadcast hint
    // explicitly: a checkpointed leaf carries no size statistics, so
    // without the hint the planner defaults the anti-join to an SMJ
    // (two exchanges + sorts in the final union) even for a 500-row
    // degree table.
    val bhStatic = ConnectedComponents.hintIf(underGate)
    val (srcOnlyConst, isolatedConst) =
      if (symmetric)
        (None,
          nodes.join(bhStatic(deg.select(col("src").as("id"))),
            Seq("id"), "left_anti").withColumn("rank", lit(150000L)))
      else {
        val dstIds = ed.select(col("dst").as("id")).distinct()
          .localCheckpoint()
        // the gate above bounds |distinct src| (the rank vector — the
        // broadcast that matters every round), but THIS build side is
        // |distinct dst| rows: a fan-in graph (few sources, huge dst
        // set) passes the src gate yet would fail a FORCED broadcast
        // of dstIds, which never falls back. Gate the dst-side hint on
        // its own count — one cheap job over a just-checkpointed
        // node-sized leaf, non-symmetric path only.
        val bhDst = ConnectedComponents.hintIf(
          underGate && dstIds.count() <= broadcastNodeLimit)
        val so = deg.select(col("src").as("id"))
          .join(bhDst(dstIds), Seq("id"), "left_anti")
          .withColumn("rank", lit(150000L))
          .localCheckpoint()
        (if (so.isEmpty) None else Some(so),
          nodes
            .join(bhDst(dstIds), Seq("id"), "left_anti")
            .join(bhStatic(deg.select(col("src").as("id"))),
              Seq("id"), "left_anti")
            .withColumn("rank", lit(150000L)))
      }
    if (underGate) {
      val bh = ConnectedComponents.hintIf(true)
      // the SRC node's degree folds into the cache ONCE via a
      // broadcast join (deg passed the gate — its row count IS the
      // gate quantity — so the hint is always legal here), leaving
      // the iterate at its minimum width (id, rank): the per-round
      // broadcast collects two longs per node instead of three, and
      // the contribution sum is a single SUM — no carried max(degree)
      // column in the aggregate buffer. This replaced the r11
      // symmetric `dgd` layout (degree-of-dst derived zero-exchange
      // from the dst-keyed layout, then carried through every round's
      // aggregate): same cache width, but that design taxed every
      // ROUND to save one prepare-time broadcast. A BroadcastHashJoin
      // preserves the streamed side's partitioning, so the cache
      // stays hash(dst)-partitioned and each round's contribution sum
      // still runs as ONE zero-exchange stage over the cached layout.
      // The cache fills inside the first checkpoint action.
      val edc = ed.repartition(edgeParts, col("dst"))
        .join(bh(deg), "src")
        .select(col("src"), col("dst"), col("dg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val init = deg.select(col("src").as("id"))
        .withColumn("rank", lit(1000000L))
      (edc, init, bh, true,
        if (symmetric) None else srcOnlyConst, isolatedConst)
    } else {
      // past the gate the rank CANNOT broadcast, so the join key
      // (src) dictates the layout and the degree folds into the edge
      // table ONCE (hash-agg + join — an all-rows window sort over
      // |E| measured ~30% slower, a chunked adjacency-list layout
      // ~15% slower; reading `edges` lazily in both consumers ~20%
      // slower than checkpointing: exchange reuse does not cover the
      // upstream pair generation)
      val init = deg.select(col("src").as("id"))
        .withColumn("rank", lit(1000000L))
      val edc = ed.join(deg, "src").repartition(col("src"))
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      edc.count() // pay the one-time edge exchange + sort NOW
      val pr0 = init.repartition(col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      pr0.count()
      (edc, pr0, ConnectedComponents.hintIf(false), false,
        srcOnlyConst, isolatedConst)
    }
  }

  /** One power-iteration round: the contribution sum and the next
    * DYNAMIC iterate (a pure projection of the sum — every dynamic
    * node receives contributions every round, see the object doc).
    * Both regimes carry the src degree on the EDGE side (`dg`), so
    * the iterate is always the minimal (id, rank) pair.
    */
  def round(edc: DataFrame, pr: DataFrame,
      bh: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val joined = edc.join(bh(pr), edc("src") === pr("id"))
    val sums = joined
      .select(col("dst"), expr("rank div dg").as("contrib"))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("c"))
    (sums, sums.select(col("dst").as("id"),
      (lit(150000L) + expr("85 * c div 100")).as("rank")))
  }

  /** Run `rounds` iterations over `nodes` (`id`) and directed `edges`
    * (`src`, `dst` — symmetrize first for an undirected graph).
    * Returns (`id`, `rank`) in rank-micros for every node.
    */
  def run(nodes: DataFrame, edges: DataFrame, rounds: Int = 10,
      broadcastNodeLimit: Long = ConnectedComponents.BroadcastNodeLimit,
      symmetric: Boolean = false,
      edgesTruncated: Boolean = false): DataFrame = {
    require(rounds >= 1, "pagerank needs at least one round")
    val (edc, pr0, bh, underGate, srcOnlyConst, isolatedConst) =
      prepare(nodes, edges, broadcastNodeLimit, symmetric, edgesTruncated)
    val timing = nodes.sparkSession.conf
      .getOption("spark.graft.graph.timing").contains("true")
    // checkpoint schedule (object doc): any schedule is CORRECT — the
    // probe's remaining-count divisibility check is evaluated against
    // the actual gap — so the choice is purely cost-based: probe once
    // early ({2,4} — cheap insurance for a genuinely fixed-point
    // corpus, e.g. uniform clique graphs where every rank equalizes),
    // then run long tails as single actions (gaps of 6). Denser probe
    // points ({…,6,8}) were measured pure waste on both the sf
    // fixtures and the 30× clone smoke: integer-floor rank dynamics
    // keep drifting through round 10 there, so every extra probe paid
    // a barrier + join and never fired.
    val ckptAt: Set[Int] =
      (Iterator(2, 4) ++ Iterator.iterate(10)(_ + 6))
        .takeWhile(_ < rounds).toSet + rounds
    var tRound = System.nanoTime()
    var pr = pr0
    // the previous two persisted iterates (probe base + past-gate
    // cache bookkeeping): the convergence probe compares against the
    // one-checkpoint-back materialized frame, never a lazy plan
    var prevCk: Option[DataFrame] = None
    var prevCkRound = 0
    var grandCk: Option[DataFrame] = None
    var converged = false
    for (i <- 1 to rounds if !converged) {
      val (_, next0) = round(edc, pr, bh)
      // post-round-1 contribution input: dynamic iterate + the frozen
      // source-only constants (None for a symmetric graph — skipping
      // the union also preserves, past the gate, the contribution
      // sum's id-partitioning into the next round's join)
      val next = srcOnlyConst.fold(next0)(next0.unionByName(_))
      pr = if (ckptAt(i)) {
        val ck =
          if (underGate) next.localCheckpoint()
          else {
            val c = next.persist(StorageLevel.MEMORY_AND_DISK)
            c.count()
            c
          }
        // exact early exit: x_i == x_{i-g} makes the tail periodic
        // with period | g, so stopping is bit-identical IFF the
        // remaining round count is a multiple of g. At i == rounds
        // the loop ends either way — probing there would be a pure
        // wasted join job.
        val gap = i - prevCkRound
        converged = i < rounds && (rounds - i) % gap == 0 &&
          prevCk.exists(p =>
            ck.join(p.select(col("id"),
                col("rank").as("prev_rank")), "id")
              .filter(col("rank") =!= col("prev_rank")).isEmpty)
        if (!underGate) {
          if (prevCk.isEmpty) pr0.unpersist() // superseded by first ck
          grandCk.foreach(_.unpersist())
        }
        grandCk = prevCk
        prevCk = Some(ck)
        prevCkRound = i
        ck
      } else next
      if (timing) {
        println(f"[pagerank] round $i ${(System.nanoTime() - tRound) / 1e9}%.2f s converged=$converged")
        tRound = System.nanoTime()
      }
    }
    // the final iterate is a materialized checkpoint and the static
    // parts read only checkpointed (node-sized) leaves — the cached
    // edge table is dead weight from here on; release it so
    // back-to-back runs in a long-lived session don't accumulate
    // |E|-row cache entries
    edc.unpersist()
    pr.select(col("id"), col("rank")).unionByName(isolatedConst)
  }
}
