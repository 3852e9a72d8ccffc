"""Physical-plan shape guards — the scale discipline, asserted.

These tests pin the *plan* properties the 100-TB design depends on, so a
refactor that silently reintroduces a per-superstep exchange, breaks filter
pushdown, or un-prunes a parquet scan fails CI instead of only showing up as
a 10x wall regression at scale:

- the per-superstep contribution join must reuse the edge cache's
  partitioning (exactly ONE exchange per superstep — the message groupBy;
  the cached edge side is never re-shuffled);
- temporal window() filters must reach the parquet scan as PushedFilters;
- column projection must prune the parquet ReadSchema to what the query
  touches.
"""

from __future__ import annotations

import re
import warnings

import pytest
from pyspark.sql import functions as F

from linkgraph.superstep import iteration_conf


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_exchanges(plan: str) -> int:
    # count Exchange operators via the formatted detail headings (excludes
    # ReusedExchange); cached (InMemoryRelation) build plans are included by
    # explain, so callers subtract the cached sides' own counts
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def test_superstep_join_reuses_cache_partitioning(spark):
    """One exchange per superstep: the cached, pre-partitioned edge side is
    never re-shuffled by the contribution join.  The asserted plan is built
    through pagerank's OWN message-stage function (contribution_messages),
    so a pagerank.py refactor that reintroduces a per-superstep exchange
    fails here, not only as a wall regression at scale."""
    from linkgraph.algorithms.pagerank import contribution_messages

    P = 4
    with iteration_conf(spark, shuffle_partitions=P):
        edges = (
            spark.range(1000)
            .select(
                (F.col("id") % 97).alias("src_id"),
                (F.col("id") % 89).alias("dst_id"),
            )
            .repartition(P, "src_id")
            .sortWithinPartitions("src_id")
            .persist()
        )
        edges.count()
        state = (
            spark.range(97)
            .select(
                F.col("id"),
                F.lit(1.0).alias("score"),
                F.lit(2).alias("out_degree"),
            )
            .repartition(P, "id")
            .persist()
        )
        state.count()
        msgs = contribution_messages(edges, state, use_broadcast=False)
        plan = _formatted_plan(msgs)
        try:
            # explain() prints the cached relations' BUILD plans too —
            # subtract each side's own (one-time) exchange so only
            # per-superstep exchanges are counted: the state side is already
            # hash(id, P)-partitioned and the edge side is the cache, so the
            # ONLY exchange allowed per superstep is the message groupBy
            cached = _n_exchanges(_formatted_plan(edges)) + _n_exchanges(
                _formatted_plan(state)
            )
            assert _n_exchanges(plan) - cached <= 1, plan
            assert "InMemoryTableScan" in plan, plan
        finally:
            edges.unpersist()
            state.unpersist()


def test_window_filter_pushed_to_parquet(spark, tmp_path):
    """LinkGraph.window() bounds must reach the scan as PushedFilters —
    partition/row-group pruning is what makes windowed queries cheap at
    100 TB (graph.py window() + Catalyst pushdown)."""
    from linkgraph.graph import LinkGraph

    p = str(tmp_path / "edges")
    spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 15), ("c", "a", 25)],
        "src string, dst string, time long",
    ).write.mode("overwrite").parquet(p)
    g = LinkGraph(spark.read.parquet(p))
    win = g.window(10, 20)
    plan = _formatted_plan(win.edges_t)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    assert "GreaterThanOrEqual(time,10)" in pushed.group(1), plan
    assert "LessThan(time,20)" in pushed.group(1), plan
    assert win.edges().count() == 1


def test_column_pruning_reaches_scan(spark, tmp_path):
    """A 2-column projection must not read the fat columns (ReadSchema
    pruning — a scan that reads everything is wrong at any scale)."""
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [("d1", "en", "xx" * 10, 3.0)],
        "doc_id string, lang string, body string, score double",
    ).write.mode("overwrite").parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "lang"}, plan
    assert "EqualTo(lang,en)" in plan, plan


def test_coreness_stage_reuses_adjacency_partitioning(spark):
    """The coreness h-index stage — built via the PRODUCTION hindex_stage —
    must not re-shuffle the pre-partitioned adjacency cache: the only
    per-iteration exchanges are the state side and the groupBy."""
    from linkgraph.algorithms.kcore import hindex_stage

    P = 4
    with iteration_conf(spark, shuffle_partitions=P):
        und = (
            spark.range(2000)
            .select(
                (F.col("id") % 97).alias("id"),
                (F.col("id") % 89).alias("nbr_id"),
            )
            .repartition(P, "nbr_id")
            .sortWithinPartitions("nbr_id")
            .persist()
        )
        und.count()
        state = (
            spark.range(97)
            .select("id", F.lit(3).cast("int").alias("v"))
            .repartition(P, "id")
            .persist()
        )
        state.count()
        try:
            plan = _formatted_plan(hindex_stage(und, state))
            cached = _n_exchanges(_formatted_plan(und)) + _n_exchanges(
                _formatted_plan(state)
            )
            # beyond the cached sides' own build exchanges: ONE shuffle of
            # the state onto the adjacency's partitioning + ONE groupBy
            # exchange; the adjacency itself must not move
            assert _n_exchanges(plan) - cached <= 2
        finally:
            und.unpersist()
            state.unpersist()


def test_bowtie_bfs_round_reuses_edge_partitioning(spark):
    """The bow-tie reach-from-set BFS round must not re-shuffle the
    pre-partitioned probe-edge table: the only per-round exchanges allowed
    are on the slim frontier/reached side (frontier exchange to meet the
    edges' distribution + the distinct).  Built through the production
    join shape (_reach_from_set's round body) against a cached,
    hash(u, P)-partitioned edge table, so a refactor that drops the
    partition reuse fails here rather than as a 10x wall at scale."""
    from linkgraph.superstep import iteration_conf

    P = 4
    with iteration_conf(spark, shuffle_partitions=P):
        probe = (
            spark.range(1000)
            .select(
                (F.col("id") % 97).alias("u"),
                (F.col("id") % 89).alias("v"),
            )
            .repartition(P, "u")
            .persist()
        )
        probe.count()
        frontier = spark.range(5).select(F.col("id"))
        # the exact per-round plan from components._reach_from_set
        nxt = (
            frontier.join(probe, frontier.id == F.col("u"))
            .select(F.col("v").alias("id"))
            .distinct()
        )
        plan = _formatted_plan(nxt)
        try:
            cached = _n_exchanges(_formatted_plan(probe))
            # frontier-side exchange + distinct exchange; NEVER a third
            # (which would be the probe table re-shuffling)
            assert _n_exchanges(plan) - cached <= 2, plan
            assert "InMemoryTableScan" in plan, plan
        finally:
            probe.unpersist()


def _jobs_run(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("algorithm", ["pagerank", "wcc"])
def test_checkpointed_superstep_job_budget(spark, tmp_path, algorithm):
    """A checkpointed superstep costs at most 4 Spark jobs.  Per-job latency,
    not data volume, sets the superstep wall on small and medium graphs, so
    each job is budgeted: the lineage commit row is written on the driver
    and must not cost a one-row Spark parquet job of its own.  Jobs per
    superstep = jobs(max_iter=k+1) − jobs(max_iter=k), so set-up jobs
    cancel."""
    from linkgraph.algorithms import pagerank, weakly_connected_components
    from linkgraph.graph import LinkGraph
    from tests import fixtures as FX

    if algorithm == "pagerank":
        edges = FX.GEN_GRAPH

        def run(k, ck):
            pagerank(
                LinkGraph.from_edge_list(spark, edges), max_iter=k, tol=0.0,
                kernel="superstep", checkpoint_dir=ck,
            )
    else:
        # a 12-node path: both max_iter values stop before the fixpoint
        edges = [(t, str(t), str(t + 1)) for t in range(1, 12)]

        def run(k, ck):
            with warnings.catch_warnings():  # stopping short is the point
                warnings.simplefilter("ignore", RuntimeWarning)
                weakly_connected_components(
                    LinkGraph.from_edge_list(spark, edges), max_iter=k,
                    kernel="superstep", checkpoint_dir=ck,
                )

    k = 2
    jobs = [
        _jobs_run(spark, lambda m=m: run(m, str(tmp_path / f"ck{m}")))
        for m in (k, k + 1)
    ]
    assert jobs[1] - jobs[0] <= 4, jobs
