"""PageRank — damping 0.85, sink-mass redistribution, L1/L2 convergence.

Semantics match the reference exactly
(raphtory/src/algorithms/centrality/pagerank.rs:54-183):

- init: ``score = 1/n`` for all n nodes in the view (pagerank.rs:29);
- per superstep (Jacobi, reads previous iteration only):
  ``score(v) = 0.85 · Σ_{u ∈ in(v)} prev(u)/out_deg(u)  +  0.15/n
             + Σ_{s: out_deg(s)=0} 0.85 · prev(s)/n``
  where in(v) is the **deduplicated** in-neighbour set (AdjSet semantics)
  and out_deg the distinct out-neighbour count, self-loops included
  (steps 2-4, pagerank.rs:85-123 — note sink mass uses the *previous*
  score and is added after teleport);
- converge when ``Σ|Δ| ≤ tol·n`` (L1) or ``sqrt(ΣΔ²) ≤ tol·n`` (L2),
  checked after each superstep (pagerank.rs:130-153); default tol 1e-6,
  python-default 20 iterations L2 (python/packages/algorithms.rs:157-164).
  The engine's benchmark target runs L1 to tol 1e-9 (north rule).

Spark-first execution, designed for ~10^9 nodes / 10^11 edges:

- the edge table is hash-partitioned by ``src_id`` once and cached; the
  rank vector is partitioned by ``id`` with the same partition count, so
  the per-iteration join reuses partitioning instead of reshuffling edges;
- when the rank vector is small enough it is **broadcast** into the join
  (hub-vector broadcast per the north star) — the edge table then never
  shuffles at all and the only exchange left is the message ``groupBy``;
- message aggregation is a plain hash aggregate: Spark's partial (map-side)
  combine already collapses hot destination keys per input partition, which
  is exactly the two-phase salted-aggregation pattern — no hand salting
  needed for sums (see adjacency.py for the grouped-kernel/CSR variant);
- convergence + next-iteration sink mass are folded into ONE one-row
  aggregate per superstep (a co-partitioned no-exchange join against the
  previous state inside the same action that fills the staged cache), so
  each iteration costs one driver roundtrip.

The same loop (:func:`pagerank_on_ids`) runs the whole family: personalized
PageRank (teleport to a seed distribution ``p``), weighted PageRank and the
Markov stationary iteration (edge weights ``w``, ``damping=1``), and — via
``centrality.decayed_pagerank`` — time-decayed PageRank.
"""

from __future__ import annotations

import math
import time as _time
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.superstep import CheckpointStore, SuperstepLoop, iteration_conf

DAMPING_DEFAULT = 0.85

# Budget for the gathered-CSR kernel: 20M int64 edge endpoints / node slots
# (~160 MB per array on the driver) — the same hub-vector-broadcast regime as
# triangles.CSR_BROADCAST_MAX.  Below it, the optimal *physical* plan for the
# whole iteration is a single local pass: per-superstep DataFrame jobs cost a
# fixed ~0.3-1 s of scheduling/exchange latency each, which dominates when a
# superstep touches < ~10M rows — exactly the regime the (single-node,
# in-memory) reference lives in.  Above it, the distributed superstep loop is
# the only plan that survives, and it is the one benchmarked at 160M edges in
# BENCH.md.
DRIVER_KERNEL_MAX = 20_000_000
KERNELS = ("auto", "local", "superstep")


def pagerank(
    graph: LinkGraph,
    max_iter: int = 20,
    tol: float = 1e-6,
    norm: str = "l2",
    damping: float = DAMPING_DEFAULT,
    partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    checkpoint_every: int = 1,
    iters_out: dict | None = None,
    kernel: str = "auto",
    timings_out: list | None = None,
    init_scores: DataFrame | None = None,
) -> DataFrame:
    """Run PageRank; returns ``(name, id, score)``.

    ``init_scores`` (any DataFrame with ``id`` and ``score`` columns —
    e.g. a previous :func:`pagerank` result) WARM-STARTS the power
    iteration: scores are projected onto this view's node set, nodes
    absent from the init get the uniform 1/n seed, and the vector is
    renormalised to total mass 1.  The fixpoint is unchanged (PageRank's
    limit is init-independent); what changes is the distance to it — on a
    rolling temporal window the previous window's scores are already
    close, so convergence to the same tol takes a fraction of the
    supersteps (the incremental-analytics path; measured in BENCH.md).

    ``broadcast_threshold``: if the node count is below this, the rank
    vector is broadcast into the contribution join (a ~16-byte/node table:
    10M nodes ≈ 160MB, still broadcastable on real executors; tune down on
    memory-poor clusters). Above it, both sides stay co-partitioned.

    ``kernel``: ``"superstep"`` — the distributed BSP loop over the sorted
    co-partitioned edge cache; ``"local"`` — gather the (deduplicated)
    edge list once and run the whole power iteration as a vectorized numpy
    kernel on the driver, identical semantics; ``"auto"`` (default) —
    ``local`` when the graph fits ``DRIVER_KERNEL_MAX`` and no
    checkpointing was requested, else ``superstep``.  Both kernels
    implement pagerank.rs:54-183 exactly and are cross-checked in
    tests/test_pagerank.py.

    Convergence: ``iters_out`` receives ``iterations``, ``converged`` and
    ``final_delta``; a run with ``tol > 0`` that exhausts ``max_iter``
    first emits a ``RuntimeWarning`` (see :func:`pagerank_on_ids`).
    """
    ids = graph.ids().persist()
    if ids.limit(1).count() == 0:
        return ids.select("name", "id", F.lit(0.0).alias("score"))
    res = pagerank_on_ids(
        graph.spark,
        ids.select("id"),
        graph.edge_ids(),
        max_iter=max_iter,
        tol=tol,
        norm=norm,
        damping=damping,
        partitions=partitions,
        broadcast_threshold=broadcast_threshold,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        checkpoint_every=checkpoint_every,
        iters_out=iters_out,
        pre_deduped=True,
        kernel=kernel,
        timings_out=timings_out,
        init_scores=init_scores,
    )
    return res.join(ids, "id").select("name", "id", "score")


def contribution_messages(
    edges: DataFrame, state_df: DataFrame, use_broadcast: bool = False
) -> DataFrame:
    """One superstep's message stage: per-node contribution join against the
    cached, pre-partitioned edge table + the message aggregate — (id, msum).

    This is THE per-superstep plan the 100-TB design depends on (one
    co-partitioned join, one exchange for the groupBy); the plan-shape guard
    in tests/test_plan_shape.py builds its asserted plan through this exact
    function so a refactor that reintroduces an edge-side exchange fails CI.
    ``edges`` must be hash-partitioned (and ideally sorted) on ``src_id``;
    ``state_df`` carries (id, score, out_degree).  Weighted edges carry a
    ``w`` column, and ``out_degree`` then holds the out-strength ``Σ w``."""
    # contrib precomputed per NODE on the build side (one division per
    # node, not per edge)
    ranks = state_df.filter(F.col("out_degree") > 0).select(
        "id", (F.col("score") / F.col("out_degree")).alias("contrib")
    )
    if use_broadcast:
        ranks = F.broadcast(ranks)
    msg = F.col("contrib") * F.col("w") if "w" in edges.columns else F.col("contrib")
    return (
        edges.join(ranks, edges.src_id == ranks.id)
        .groupBy(F.col("dst_id").alias("id"))
        .agg(F.sum(msg).alias("msum"))
    )


def pagerank_on_ids(
    spark,
    nodes: DataFrame,
    edge_ids: DataFrame,
    max_iter: int = 20,
    tol: float = 1e-6,
    norm: str = "l2",
    damping: float = DAMPING_DEFAULT,
    partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    checkpoint_every: int = 1,
    iters_out: dict | None = None,
    pre_deduped: bool = False,
    kernel: str = "auto",
    timings_out: list | None = None,
    init_scores: DataFrame | None = None,
) -> DataFrame:
    """Id-native PageRank core over ``nodes(id)`` + ``edge_ids(src_id, dst_id)``;
    returns ``(id, score)``.  Pass ``pre_deduped=True`` when the edge table is
    already simple (distinct) to skip one shuffle.  ``init_scores`` warm-
    starts the iteration (see :func:`pagerank`).

    The one power-iteration loop of the PageRank family,
    ``x ← d·Aᵀ_W(x/strength) + (1−d+d·sink_mass)·p``, read from two
    optional input columns:

    - ``w`` on ``edge_ids`` — edge weights: ``strength(u) = Σ w`` over u's
      out-edges replaces the out-degree, and a node with ``strength ≤ 0``
      is a sink whose out-edges carry no mass (a NULL weight carries none
      either).  Rows of one pair add up; ``pre_deduped=False`` first drops
      exact duplicate ``(src_id, dst_id, w)`` rows;
    - ``p`` on ``nodes`` — the teleport AND sink-return distribution (it
      should sum to 1), in place of the uniform ``1/n``; the iteration
      starts from ``p`` instead of ``1/n``.

    Without either column this is exactly pagerank.rs:54-183.

    ``iters_out`` receives ``iterations`` (the last superstep run),
    ``converged`` and ``final_delta`` (the last ``Σ|Δ|`` or ``sqrt(ΣΔ²)``,
    per ``norm``).  With ``tol > 0``, running out of ``max_iter`` before
    ``final_delta ≤ tol·n`` emits a ``RuntimeWarning``; pass ``tol=0.0``
    for a fixed number of supersteps."""
    if kernel not in KERNELS:
        raise ValueError(f"kernel must be one of {KERNELS}, got {kernel!r}")
    personalized = "p" in nodes.columns
    weighted = "w" in edge_ids.columns
    nodes = nodes.select("id", "p") if personalized else nodes.select("id")
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("score"))

    edge_ids = edge_ids.select("src_id", "dst_id", *(["w"] if weighted else []))
    raw_edges = (edge_ids if pre_deduped else edge_ids.distinct()).persist()
    n_edges = raw_edges.count()
    if kernel == "auto":
        kernel = (
            "local"
            if checkpoint_dir is None
            and max(n, n_edges) <= DRIVER_KERNEL_MAX
            else "superstep"
        )
    if kernel == "local":
        out, diff = _pagerank_local(
            spark, nodes, raw_edges, n, max_iter, tol, norm, damping, iters_out,
            init_scores,
        )
        raw_edges.unpersist()
        _report_convergence(iters_out, diff, tol, n, max_iter)
        return out
    from linkgraph.superstep import pick_partitions

    _t_setup = _time.monotonic()
    P = partitions or pick_partitions(spark, n_edges)
    # The loop-scoped conf wraps the CACHE BUILDS too: caches built with AQE
    # on get AQE-wrapped plans whose within-partition ordering Catalyst can't
    # see, resurrecting per-superstep sorts.
    with iteration_conf(spark, shuffle_partitions=P):
        # partition AND pre-sort within partitions: the per-superstep
        # contribution join is a sort-merge join of two cached
        # co-partitioned sides — with the cache already sorted on the
        # join key, Catalyst elides the big-side Sort every iteration
        # (only the small freshly-aggregated message side sorts).
        edges = (
            raw_edges.repartition(P, "src_id")
            .sortWithinPartitions("src_id")
            .persist()
        )
        edges.count()
        raw_edges.unpersist()
        by_src = edges.groupBy(F.col("src_id").alias("id"))
        if weighted:
            # out-strength in the out_degree slot; a non-positive strength
            # cannot normalise its contributions, so it is clamped to the
            # sink value 0 (contribution_messages drops a sink's edges)
            s = F.sum("w")
            deg = by_src.agg(F.when(s > 0, s).otherwise(0.0).alias("out_degree"))
        else:
            deg = by_src.agg(F.count("*").alias("out_degree"))
        # static per-node table: (id, out_degree[, p]) — partitioned by id once
        static = (
            nodes.join(deg, "id", "left")
            .fillna(0, subset=["out_degree"])
            .repartition(P, "id")
            .sortWithinPartitions("id")
            .persist()
        )
        n_sinks = static.filter(F.col("out_degree") == 0).count()

        if init_scores is None:
            seed = F.col("p") if personalized else F.lit(1.0 / n)
            init = static.select("id", "out_degree", seed.alias("score"))
        else:
            # warm start: project onto this node set, seed absentees with
            # the uniform 1/n, renormalise to total mass 1 (the iteration's
            # invariant).  One extra join + one global sum, once.
            prev = init_scores.select("id", F.col("score").alias("s0"))
            seeded = static.join(prev, "id", "left").withColumn(
                "s0", F.coalesce("s0", F.lit(1.0 / n))
            )
            total = float(seeded.agg(F.sum("s0")).first()[0])
            init = seeded.select(
                "id", "out_degree", (F.col("s0") / F.lit(total)).alias("score")
            )

        store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
        if store is not None:
            # fingerprint the input + config so a stale checkpoint from
            # another graph is refused instead of silently resumed; only
            # trajectory-affecting facts: tol/norm may legitimately change
            # between a killed run and its resume
            meta = {
                "algorithm": "pagerank",
                "n_nodes": n,
                "edge_checksum": _checksum(edges),
                "damping": damping,
            }
            if personalized:
                meta["p_checksum"] = _checksum(nodes)
            store.validate_meta(meta)
            store.write_meta(meta)
        loop = SuperstepLoop(
            spark, store=store, resume=resume, checkpoint_every=checkpoint_every
        )
        state, start_it = loop.begin(init)

        # sink mass of the current (previous-iteration) state
        if n_sinks:
            sink_mass = (
                state.filter(F.col("out_degree") == 0).agg(F.sum("score")).first()[0]
            )
        else:
            sink_mass = 0.0

        use_broadcast = n <= broadcast_threshold
        if timings_out is not None:
            timings_out.append(("setup", _time.monotonic() - _t_setup))
        state, diff = _run_loop(
            loop, state, edges, use_broadcast, static, n, sink_mass, damping,
            personalized, norm, tol, max_iter, start_it, iters_out, timings_out,
        )
        # release the loop-scoped caches: the final state cache is already
        # materialized (the last superstep's stats action filled it), so
        # dropping its upstream relations only trades a cold recompute for
        # not accumulating fat cached relations across repeated calls in
        # one session
        edges.unpersist()
        static.unpersist()

    _report_convergence(iters_out, diff, tol, n, max_iter)
    return state.select("id", "score")


def _checksum(df: DataFrame) -> int:
    """Order-insensitive fold of every row (32-bit terms so the ANSI long
    sum cannot overflow below 2^31 rows)."""
    total = df.agg(
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF)))
    ).first()[0]
    return int(total or 0)


def _report_convergence(iters_out, diff, tol, n, max_iter) -> None:
    """The convergence contract, shared by both kernels: record the outcome
    in ``iters_out`` and never let a ``tol``-bounded run stop silently
    short of it (``diff`` is None when no superstep ran)."""
    converged = diff is not None and diff <= tol * n
    if iters_out is not None:
        iters_out["converged"] = converged
        iters_out["final_delta"] = diff
    if tol > 0 and not converged:
        warnings.warn(
            f"PageRank stopped at max_iter={max_iter} before converging: "
            f"delta {diff} > tol·n = {tol * n:g}; raise max_iter, or pass "
            "tol=0.0 to run a fixed number of supersteps",
            RuntimeWarning,
            stacklevel=3,
        )


def _pagerank_local(
    spark, nodes, edges, n, max_iter, tol, norm, damping, iters_out=None,
    init_scores=None,
) -> tuple[DataFrame, float | None]:
    """Gathered-CSR power iteration — the superstep kernel's semantics, one
    driver-side numpy pass instead of ``max_iter`` DataFrame jobs; returns
    the scores and the last superstep's delta.

    The edge list arrives as int64 arrays over Arrow (one job), every
    superstep is two ``bincount`` scatters, and the result ships back as one
    Arrow batch.  Bounded by ``DRIVER_KERNEL_MAX`` (~160 MB/array); the
    superstep kernel is the identical-semantics scale path.  Stray
    edges whose endpoint is outside ``nodes`` behave exactly as the
    distributed joins treat them: an unknown dst still absorbs its src's
    out-degree share (the mass is lost), an unknown src contributes
    nothing."""
    import numpy as np
    import pandas as pd

    nd = nodes.toPandas().sort_values("id")
    id_sorted = nd["id"].to_numpy(np.int64)
    p = nd["p"].to_numpy(np.float64) if "p" in nd.columns else None
    e = edges.toPandas()
    src_raw = e["src_id"].to_numpy(np.int64)
    dst_raw = e["dst_id"].to_numpy(np.int64)
    w = e["w"].fillna(0.0).to_numpy(np.float64) if "w" in e.columns else None

    def _lookup(vals):
        pos = np.searchsorted(id_sorted, vals)
        pos_c = np.minimum(pos, n - 1)
        ok = id_sorted[pos_c] == vals
        return pos_c, ok

    src, src_ok = _lookup(src_raw)
    dst, dst_ok = _lookup(dst_raw)
    # out-degree (out-strength with weights) counts every distinct out-edge
    # of a known src, even to an unknown dst — join-semantics parity with
    # the superstep kernel
    out_deg = np.bincount(
        src[src_ok], weights=None if w is None else w[src_ok], minlength=n
    ).astype(np.float64)
    both = src_ok & dst_ok
    src_m, dst_m = src[both], dst[both]
    sinks = out_deg <= 0.0
    safe_deg = np.where(sinks, 1.0, out_deg)

    score = np.full(n, 1.0 / n)
    if init_scores is not None:
        # warm start, same contract as the superstep kernel: project,
        # seed absentees uniform, renormalise to mass 1
        prev = init_scores.select("id", "score").toPandas()
        pos, ok = _lookup(prev["id"].to_numpy(np.int64))
        score[pos[ok]] = prev["score"].to_numpy(np.float64)[ok]
        score = score / float(score.sum())
    elif p is not None:
        score = p.copy()
    teleport = (1.0 - damping) / n
    diff = None
    for it in range(1, max_iter + 1):
        if iters_out is not None:
            iters_out["iterations"] = it
        contrib = np.where(sinks, 0.0, score / safe_deg)
        msg = contrib[src_m] if w is None else contrib[src_m] * w[both]
        msum = np.bincount(dst_m, weights=msg, minlength=n)
        sink_mass = float(score[sinks].sum())
        if p is None:
            new = damping * msum + (teleport + damping * sink_mass / n)
        else:
            new = damping * msum + (1.0 - damping + damping * sink_mass) * p
        d = np.abs(new - score)
        diff = float(np.sqrt(float((d * d).sum()))) if norm == "l2" else float(d.sum())
        score = new
        if diff <= tol * n:
            break
    return spark.createDataFrame(pd.DataFrame({"id": id_sorted, "score": score})), diff


def _run_loop(
    loop, state, edges, use_broadcast, static, n, sink_mass, damping,
    personalized, norm, tol, max_iter, start_it, iters_out=None,
    timings_out=None,
):
    """The superstep kernel's iterations; returns the final state and the
    last superstep's delta (None when none ran)."""
    teleport = (1.0 - damping) / n
    diff = None
    for it in range(start_it, max_iter + 1):
        _t_it = _time.monotonic()
        if iters_out is not None:
            iters_out["iterations"] = it
        msgs = contribution_messages(edges, state, use_broadcast)
        pushed = F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
        if personalized:
            score = pushed + F.lit(1.0 - damping + damping * sink_mass) * F.col("p")
        else:
            score = pushed + F.lit(teleport + damping * sink_mass / n)
        # join against the STATIC leaf cache (the state plan is referenced
        # once per iteration, in msgs — linear lineage)
        new_state = static.join(msgs, "id", "left").select(
            "id", "out_degree", score.alias("score")
        )
        new_state = loop.stage(new_state, it, materialize=False)
        # one-row aggregate: convergence delta vs prev + next sink mass, in
        # the same action that fills the staged cache (the prev-state join
        # is co-partitioned SHJ over two caches — no exchange).  Threading
        # prev_score through the message aggregate instead was measured
        # strictly worse at 160M edges (the extra exchange column + per-edge
        # branch cost ~30% at local[4] and ~12% at local[16]): the 20M-row
        # state join is cheap next to the 160M-row message stage, and it
        # lives in the stats query, not the staged plan, so lineage stays
        # linear.
        delta_expr = (
            F.sum(F.pow(F.abs(F.col("score") - F.col("prev_score")), 2))
            if norm == "l2"
            else F.sum(F.abs(F.col("score") - F.col("prev_score")))
        )
        stats = (
            new_state.join(
                state.select("id", F.col("score").alias("prev_score")), "id"
            )
            .agg(
                delta_expr.alias("delta"),
                F.sum(F.when(F.col("out_degree") == 0, F.col("score"))).alias("sink"),
            )
            .first()
        )
        delta = stats["delta"] or 0.0
        sink_mass = stats["sink"] or 0.0
        diff = math.sqrt(delta) if norm == "l2" else delta
        state = loop.commit(
            it, metrics={"algorithm": "pagerank", "delta": diff, "tol": tol}
        )
        if timings_out is not None:
            timings_out.append((it, _time.monotonic() - _t_it))
        if diff <= tol * n:
            break
    return state, diff


def personalized_pagerank(
    graph: LinkGraph,
    seeds: list[str],
    damping: float = DAMPING_DEFAULT,
    max_iter: int = 100,
    tol: float = 1e-9,
    partitions: int | None = None,
) -> DataFrame:
    """PageRank with teleport restricted to a seed set — ``(name, id,
    score)``: importance RELATIVE to the seeds (random-walk-with-restart).

    Update: ``s' = (1-d)·p + d·(Aᵀ(s/deg) + sink_mass·p)`` with ``p``
    uniform over the seeds — both the teleport and the dangling-node mass
    return to the seed distribution, the standard personalized semantics
    (the global variant in :func:`pagerank` is the special case p =
    uniform).  The iteration starts from ``p``; L1 convergence at
    ``tol·n`` like the global kernel.

    Scale shape: the shared loop of :func:`pagerank_on_ids` with ``p`` as a
    node column — the ``auto`` size switch picks the driver-local kernel
    below ``DRIVER_KERNEL_MAX``, else the superstep kernel, whose
    per-iteration plan is :func:`contribution_messages` (ONE co-partitioned
    join + one aggregate over the cached pre-partitioned edge table) plus
    the static join carrying ``p``, under ``SuperstepLoop``'s lineage
    policy.
    """
    from linkgraph.graph import name_to_id

    ids = graph.ids().persist()
    n = ids.count()
    if n == 0 or not seeds:
        return ids.select("name", "id", F.lit(0.0).alias("score")).limit(0)
    seed_lits = F.array(*[name_to_id(F.lit(s)) for s in set(seeds)])
    is_seed = F.array_contains(seed_lits, F.col("id"))
    # resolve the seeds BEFORE splitting the teleport mass: a misspelled /
    # absent seed must not silently shrink total teleport below 1 and
    # deflate every score
    n_seeds = ids.filter(is_seed).count()
    if n_seeds < len(set(seeds)):
        missing = len(set(seeds)) - n_seeds
        raise ValueError(
            f"personalized_pagerank: {missing} of {len(set(seeds))} seed "
            f"name(s) do not resolve to nodes of this graph view"
        )
    p = F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    scores = pagerank_on_ids(
        graph.spark,
        ids.select("id", p.alias("p")),
        graph.edge_ids(),
        max_iter=max_iter,
        tol=tol,
        norm="l1",
        damping=damping,
        partitions=partitions,
        pre_deduped=True,
    )
    return ids.join(scores, "id").select("name", "id", "score")
