import importlib
import math
import os
import random

import pytest

from linkgraph.algorithms import pagerank
from linkgraph.graph import LinkGraph

from tests import fixtures as FX
from tests.oracles import pagerank_oracle

# the package re-exports the pagerank FUNCTION under the module's name
pagerank_mod = importlib.import_module("linkgraph.algorithms.pagerank")


def run_pr(spark, edges, **kw):
    g = LinkGraph.from_edge_list(spark, edges)
    return {r.name: r.score for r in pagerank(g, **kw).collect()}


def assert_close(got: dict, want: dict, decimals: int):
    assert set(got) == set(want)
    for k in want:
        assert round(got[k], decimals) == round(want[k], decimals), (
            k, got[k], want[k])


def test_five_edge_golden(spark):
    got = run_pr(spark, FX.FIVE_EDGE, max_iter=1000, norm="l2")
    assert_close(got, FX.FIVE_EDGE_PAGERANK, 5)


@pytest.mark.parametrize("kernel", ["local", "superstep"])
def test_gen_graph_golden(spark, kernel):
    """python/tests/test_algorithms.py:232-246 — allclose 1e-6 gate,
    on BOTH the gathered-CSR kernel and the distributed superstep loop."""
    got = run_pr(spark, FX.GEN_GRAPH, max_iter=20, norm="l2", kernel=kernel)
    assert set(got) == set(FX.GEN_GRAPH_PAGERANK)
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-6), (k, got[k], v)


def test_two_cycle(spark):
    got = run_pr(spark, FX.TWO_CYCLE, max_iter=1000, norm="l1")
    assert_close(got, {"1": 0.5, "2": 0.5}, 3)


def test_three_dangling(spark):
    got = run_pr(spark, FX.THREE_DANGLING, max_iter=10, norm="l1")
    assert_close(got, FX.THREE_DANGLING_PAGERANK, 3)


def test_dangling_chain_sink_redistribution(spark):
    got = run_pr(spark, FX.DANGLING_CHAIN, max_iter=1000, norm="l2")
    assert_close(got, FX.DANGLING_CHAIN_PAGERANK, 3)


def test_motif_graph_golden(spark):
    got = run_pr(spark, FX.MOTIF_GRAPH, max_iter=1000, norm="l2")
    assert_close(got, FX.MOTIF_GRAPH_PAGERANK, 5)


def test_scores_sum_to_one(spark):
    got = run_pr(spark, FX.GEN_GRAPH, max_iter=20)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


@pytest.mark.parametrize(
    "seed,kernel",
    [(7, "local"), (7, "superstep"), (101, "local"), (101, "superstep")],
)
def test_randomized_vs_oracle(spark, seed, kernel):
    """Quickcheck-style: random digraphs must match the numpy oracle that
    replicates pagerank.rs semantics line-for-line — both kernels."""
    rng = random.Random(seed)
    n = 30
    edges = [
        (t, str(rng.randrange(n)), str(rng.randrange(n))) for t in range(80)
    ]
    got = run_pr(spark, edges, max_iter=50, norm="l1", tol=1e-12, kernel=kernel)
    want = pagerank_oracle([(s, d) for _, s, d in edges],
                           max_iter=50, norm="l1", tol=1e-12)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), (k, got[k], want[k])


def test_no_broadcast_path_matches(spark):
    """Force the co-partitioned (non-broadcast) join path; results identical."""
    got = run_pr(
        spark, FX.GEN_GRAPH, max_iter=20, broadcast_threshold=0, kernel="superstep"
    )
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(got[k], v, abs_tol=1e-6)


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: run 3 iterations, then resume to convergence; the
    resumed run must agree with an uninterrupted run."""
    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    ckpt = str(tmp_path / "pr_ckpt")
    pagerank(g, max_iter=3, tol=0.0, checkpoint_dir=ckpt)  # "killed" after 3
    g2 = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    resumed = {
        r.name: r.score
        for r in pagerank(
            g2, max_iter=20, norm="l2", checkpoint_dir=ckpt, resume=True
        ).collect()
    }
    for k, v in FX.GEN_GRAPH_PAGERANK.items():
        assert math.isclose(resumed[k], v, abs_tol=1e-6), (k, resumed[k], v)
    # lineage rows recorded per iteration
    from linkgraph.superstep import CheckpointStore

    store = CheckpointStore(spark, ckpt)
    lin = store.lineage().toPandas()
    assert set(lin.columns) == {"partition_id", "iteration", "rows", "checksum", "wall_ms"}
    assert lin.iteration.max() >= 4  # resumed past the killed run


def test_lineage_commit_contract(spark, tmp_path):
    """The lineage row commits each checkpointed superstep: exactly
    LINEAGE_SCHEMA, one row per superstep, carrying the row count and
    checksum of the snapshot on disk.  An uncommitted row (a crash between
    writing the hidden temp file and renaming it) is invisible, and lineage
    committed by a Spark appender reads and resumes together with
    driver-written rows."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from linkgraph.superstep import LINEAGE_SCHEMA, CheckpointStore

    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    n = g.ids().count()
    ckpt = str(tmp_path / "pr_ckpt")
    want = {
        r.name: r.score
        for r in pagerank(
            g, max_iter=3, tol=0.0, kernel="superstep", checkpoint_dir=ckpt
        ).collect()
    }
    store = CheckpointStore(spark, ckpt)
    lin = store.lineage()
    assert lin.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    rows = lin.orderBy("iteration").collect()
    assert [r.iteration for r in rows] == [1, 2, 3]
    for r in rows:
        assert r.partition_id == -1 and r.rows == n
        assert r.checksum == pagerank_mod._checksum(store.load(r.iteration))
    assert store.last_completed() == 3

    # crash before the rename: a hidden temp file holding iteration 4
    part = sorted(glob.glob(f"{ckpt}/lineage/part-*.parquet"))[-1]
    crashed = pq.read_table(part)
    crashed = crashed.set_column(
        1, "iteration", pa.array([4], crashed.schema.field("iteration").type)
    )
    pq.write_table(crashed, f"{ckpt}/lineage/.00004-crashed.parquet.tmp")
    assert store.last_completed() == 3
    assert store.lineage().count() == 3
    # ... and before the first commit: nothing to resume from
    fresh = str(tmp_path / "fresh")
    os.makedirs(f"{fresh}/lineage")
    shutil.copy(
        f"{ckpt}/lineage/.00004-crashed.parquet.tmp",
        f"{fresh}/lineage/.00001-crashed.parquet.tmp",
    )
    assert CheckpointStore(spark, fresh).last_completed() is None

    # lineage committed by a Spark appender, one parquet job per row
    old = str(tmp_path / "old_ckpt")
    pagerank(g, max_iter=2, tol=0.0, kernel="superstep", checkpoint_dir=old)
    old_rows = CheckpointStore(spark, old).lineage().collect()
    shutil.rmtree(f"{old}/lineage")
    for r in old_rows:
        spark.createDataFrame([r], schema=LINEAGE_SCHEMA).write.mode(
            "append"
        ).parquet(f"{old}/lineage")
    resumed = {
        r.name: r.score
        for r in pagerank(
            g, max_iter=3, tol=0.0, kernel="superstep", checkpoint_dir=old,
            resume=True,
        ).collect()
    }
    old_store = CheckpointStore(spark, old)
    assert sorted(r.iteration for r in old_store.lineage().collect()) == [1, 2, 3]
    assert old_store.last_completed() == 3
    for k, v in want.items():
        assert math.isclose(resumed[k], v, rel_tol=1e-12), (k, resumed[k], v)


def test_personalized_pagerank_matches_local_power_iteration(spark):
    from linkgraph.algorithms import personalized_pagerank
    from linkgraph.graph import LinkGraph

    #  1→2→3→1 cycle, 3→4 (4 is a sink), 5→1 feeder
    edges = [(0, "1", "2"), (1, "2", "3"), (2, "3", "1"), (3, "3", "4"), (4, "5", "1")]
    g = LinkGraph.from_edge_list(spark, edges)
    seeds = ["1"]
    got = {r["id"]: r["score"]
           for r in personalized_pagerank(g, seeds, max_iter=300, tol=0.0).collect()}

    adj = {1: [2], 2: [3], 3: [1, 4], 5: [1]}
    nodes = [1, 2, 3, 4, 5]
    p = {v: (1.0 if v == 1 else 0.0) for v in nodes}
    s = dict(p)
    d = 0.85
    for _ in range(300):
        sink = sum(s[v] for v in nodes if v not in adj)
        msum = {v: 0.0 for v in nodes}
        for u, nbrs in adj.items():
            for v in nbrs:
                msum[v] += s[u] / len(nbrs)
        s = {v: d * msum[v] + (1 - d + d * sink) * p[v] for v in nodes}
    for v in nodes:
        assert abs(got[v] - s[v]) < 1e-9, (v, got[v], s[v])
    # restart mass concentrates at/near the seed; total mass is 1
    assert got[1] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_warm_start_same_fixpoint_fewer_iterations(spark):
    from tests import fixtures as FX

    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    cold_iters: dict = {}
    cold = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=200, tol=1e-9, norm="l1",
                          iters_out=cold_iters).collect()
    }
    # warm-start from an 80%-converged vector: the fixpoint is identical,
    # the distance to it is not
    init = pagerank(g, max_iter=max(2, cold_iters["iterations"] // 2),
                    tol=0.0).select("id", "score")
    warm_iters: dict = {}
    warm = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=200, tol=1e-9, norm="l1",
                          iters_out=warm_iters, init_scores=init).collect()
    }
    assert warm_iters["iterations"] < cold_iters["iterations"]
    for k in cold:
        assert warm[k] == pytest.approx(cold[k], abs=1e-7)


def test_warm_start_projects_and_renormalises(spark):
    # init has a node NOT in the graph (dropped) and misses one that is
    # (seeded 1/n); total mass renormalised to 1
    edges = [(0, "a", "b"), (1, "b", "c"), (2, "c", "a")]
    g = LinkGraph.from_edge_list(spark, edges)
    ids = {r["name"]: r["id"] for r in g.ids().collect()}
    init = spark.createDataFrame(
        [(ids["a"], 10.0), (ids["b"], 30.0), (12345, 99.0)],
        "id long, score double",
    )
    out = {
        r["name"]: r["score"]
        for r in pagerank(g, max_iter=0, tol=0.0, kernel="superstep",
                          init_scores=init).collect()
    }
    n = 3
    total = 10.0 + 30.0 + 1.0 / n
    assert out["a"] == pytest.approx(10.0 / total)
    assert out["b"] == pytest.approx(30.0 / total)
    assert out["c"] == pytest.approx((1.0 / n) / total)
    assert sum(out.values()) == pytest.approx(1.0)


@pytest.fixture(params=["local", "superstep"])
def family_kernel(request, monkeypatch):
    """Runs a test under each PageRank kernel: ``auto`` picks ``local`` at
    test scale, so a zero size budget forces the superstep kernel."""
    if request.param == "superstep":
        monkeypatch.setattr(pagerank_mod, "DRIVER_KERNEL_MAX", 0)
    return request.param


def test_personalized_pagerank_superstep_kernel(spark, monkeypatch):
    monkeypatch.setattr(pagerank_mod, "DRIVER_KERNEL_MAX", 0)
    test_personalized_pagerank_matches_local_power_iteration(spark)


def test_blocks_kernel_removed(spark):
    g = LinkGraph.from_edge_list(spark, FX.TWO_CYCLE)
    with pytest.raises(ValueError, match="kernel must be one of"):
        pagerank(g, kernel="blocks")


def test_convergence_contract(spark, family_kernel, recwarn):
    g = LinkGraph.from_edge_list(spark, FX.GEN_GRAPH)
    n = g.ids().count()

    short: dict = {}
    with pytest.warns(RuntimeWarning, match="before converging"):
        pagerank(g, max_iter=2, tol=1e-12, iters_out=short)
    assert short["iterations"] == 2
    assert short["converged"] is False
    assert short["final_delta"] > 1e-12 * n

    recwarn.clear()
    fixed: dict = {}
    pagerank(g, max_iter=2, tol=0.0, iters_out=fixed)
    full: dict = {}
    pagerank(g, max_iter=500, tol=1e-9, norm="l1", iters_out=full)
    assert not [w for w in recwarn if "before converging" in str(w.message)]
    assert fixed["converged"] is False and fixed["iterations"] == 2
    assert full["converged"] is True
    assert full["final_delta"] <= 1e-9 * n
    assert full["iterations"] < 500


FAMILY = ["pagerank", "personalized_pagerank", "weighted_pagerank", "decayed_pagerank"]


def _run_family(alg, g, seeds):
    from linkgraph.algorithms import (
        decayed_pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )

    if alg == "pagerank":
        return pagerank(g, max_iter=50, tol=0.0)
    if alg == "personalized_pagerank":
        return personalized_pagerank(g, seeds, max_iter=50, tol=0.0)
    if alg == "weighted_pagerank":
        return weighted_pagerank(g, "qty", max_iter=50)
    return decayed_pagerank(g, halflife_ms=100, max_iter=50)


EDGE_SCHEMA = "src string, dst string, time long, qty double"


@pytest.mark.parametrize("case", ["empty", "self_loop", "all_sinks"])
@pytest.mark.parametrize("alg", FAMILY)
def test_family_degenerate_inputs(spark, family_kernel, alg, case):
    """Empty graph → typed empty result; one self-loop node → 1.0; every
    node a sink → uniform 1/n (zero weights for the weighted variant, a
    node-only graph for the others; PPR seeds every node)."""
    if case == "empty":
        g = LinkGraph(spark.createDataFrame([], EDGE_SCHEMA))
        res = _run_family(alg, g, ["a"])
        assert dict(res.dtypes)["score"] == "double"
        assert res.count() == 0
        return
    if case == "self_loop":
        g = LinkGraph(spark.createDataFrame([("a", "a", 0, 1.0)], EDGE_SCHEMA))
        want = {"a": 1.0}
    elif alg == "weighted_pagerank":
        zero = [("a", "b", 0, 0.0), ("b", "c", 1, 0.0), ("c", "a", 2, 0.0)]
        g = LinkGraph(spark.createDataFrame(zero, EDGE_SCHEMA))
        want = {v: 1.0 / 3 for v in "abc"}
    else:
        nodes = spark.createDataFrame([(v, 0) for v in "abc"], "name string, time long")
        g = LinkGraph(spark.createDataFrame([], EDGE_SCHEMA), nodes)
        want = {v: 1.0 / 3 for v in "abc"}
    got = {r["name"]: r["score"] for r in _run_family(alg, g, list(want)).collect()}
    assert got == pytest.approx(want, abs=1e-12)
