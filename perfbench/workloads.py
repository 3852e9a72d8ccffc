"""The workloads: which public engine calls a round makes, and the reference
results every call is checked against.

A round builds a fresh graph and runs ingest, ``materialize()``, PageRank,
WCC, LPA and both triangle counts.  Each call is timed up to its result
being written (parquet) or, for ingest and graph, persisted and counted.
Its check runs after that, outside the timing, and reads the written
result back.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from gen import GenParams
from reference import View
from tracing import MarkedTimings

PR_TOL = 1e-9


class PhaseFailed(RuntimeError):
    """A call raised or returned a result that failed its reference check."""


@dataclass
class Round:
    """What one pass over a workload's calls measured."""

    times: dict = field(default_factory=dict)  # seconds per call
    pr_steps: int = 0
    wcc_steps: int = 0
    edge_iters: int = 0  # simple edges x PageRank supersteps
    pr_timings: list = field(default_factory=list)
    ckpt_dirs: list = field(default_factory=list)


class Ctx:
    """One run's engine session, reference results and failure counts."""

    def __init__(self, spark, ref: dict, tracer=None):
        self.spark = spark
        self.ref = ref
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def call(self, rnd: Round, phase: str, layer: str, fn, check):
        """Time ``fn()`` as ``phase``, then check its result outside the timing."""
        self.attempted += 1
        try:
            if self.tracer is not None:
                with self.tracer.call(phase, layer):
                    t0 = time.perf_counter()
                    out = fn()
                    rnd.times[phase] = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                out = fn()
                rnd.times[phase] = time.perf_counter() - t0
            check(out)
        except Exception as exc:
            self.failed += 1
            raise PhaseFailed(f"{phase}: {type(exc).__name__}: {exc}") from exc
        return out


def _ids(names) -> np.ndarray:
    return np.asarray([int(x) for x in names], dtype=np.int64)


def _read(path: str):
    return pq.read_table(path).to_pandas()


def _aligned(path: str, col: str, view: View) -> np.ndarray:
    pdf = _read(path)
    ids = _ids(pdf["name"])
    if ids.size != view.n or not np.array_equal(np.sort(ids), view.ids):
        raise PhaseFailed(f"{col}: node set differs from the reference")
    out = np.empty(view.n, pdf[col].dtype)
    out[np.searchsorted(view.ids, ids)] = pdf[col].to_numpy()
    return out


def _exact(path: str, col: str, view: View, want: np.ndarray) -> None:
    got = _aligned(path, col, view)
    if not np.array_equal(got, want):
        raise PhaseFailed(f"{col}: {int((got != want).sum())} nodes differ")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    params: GenParams
    round_s: float  # nominal seconds of one round on a 4-core host
    warmup_rounds: int  # rounds run and checked first, but not reported
    from_source: bool  # ingest by extraction, else LinkGraph.load of the saved graph
    checkpointed: bool  # PageRank and WCC write a checkpoint every superstep
    pr_max_iter: int
    lpa_args: dict  # label_propagation arguments; sync mode carries max_sweeps
    triangle_kernel: str

    def rounds(self, seconds: float) -> int:
        """A fixed number of rounds for a run of ``seconds``: a count that
        varied with timing would change what the median is taken over."""
        return max(1, round(seconds / self.round_s))

    def reference(self, gen) -> dict:
        e, nd = gen.edges_t.to_pydict(), gen.nodes_t.to_pydict()
        v = View(_ids(e["src"]), _ids(e["dst"]), _ids(nd["name"]))
        ref = {
            "planted": Counter(zip(e["src"], e["dst"], e["time"], e["layer"])),
            "view": v,
            "files": gen.source.num_rows,
            "seconds": {},
        }

        def timed(key, fn):
            t0 = time.perf_counter()
            ref[key] = fn()
            ref["seconds"][key] = time.perf_counter() - t0

        timed("pagerank", lambda: v.pagerank(tol=PR_TOL, max_iter=self.pr_max_iter)[0])
        timed("wcc", v.wcc)
        if self.lpa_args.get("mode") == "sync":
            timed("lpa", lambda: v.lpa_sync(sweeps=self.lpa_args["max_sweeps"]))
        else:
            timed("lpa", v.lpa_exact)
        timed("triangles", v.triangles)
        return ref

    def round(self, ctx: Ctx, inputs: str, out: str) -> Round:
        from linkgraph import LinkGraph
        from linkgraph.algorithms.components import weakly_connected_components
        from linkgraph.algorithms.lpa import label_propagation
        from linkgraph.algorithms.pagerank import pagerank
        from linkgraph.algorithms.triangles import global_triangle_count, per_edge_triangles

        rnd, ref, v, spark = Round(), ctx.ref, ctx.ref["view"], ctx.spark

        def ingest():
            if self.from_source:
                source = spark.read.parquet(f"{inputs}/source")
                g = LinkGraph.from_source_table(source, verify_sha=True)
            else:
                g = LinkGraph.load(spark, f"{inputs}/graph")
            g.edges_t.persist().count()
            g.nodes_t.persist().count()
            return g

        def check_ingest(g):
            pdf = g.edges_t.select("src", "dst", "time", "layer").toPandas()
            got = Counter(zip(pdf["src"], pdf["dst"], pdf["time"].tolist(), pdf["layer"]))
            if got != ref["planted"]:
                raise PhaseFailed("edges_t differs from the planted multiset")

        def check_graph(g):
            n, m = g.ids().count(), g.edge_ids().count()
            if (n, m) != (v.n, v.m):
                raise PhaseFailed(f"graph has {n} nodes / {m} edges, want {v.n} / {v.m}")

        g = ctx.call(rnd, "ingest", "extract" if self.from_source else "load",
                     ingest, check_ingest)
        ctx.call(rnd, "graph", "graph", g.materialize, check_graph)

        ckpt = {}
        if self.checkpointed:
            rnd.ckpt_dirs = [f"{out}/ckpt/pagerank", f"{out}/ckpt/wcc"]
            ckpt = {"pagerank": {"checkpoint_dir": rnd.ckpt_dirs[0]},
                    "wcc": {"checkpoint_dir": rnd.ckpt_dirs[1]}}
        pr_iters, wcc_iters = {}, {}
        rnd.pr_timings = MarkedTimings(ctx.tracer, "pagerank")

        def check_pagerank(_):
            got = _aligned(f"{out}/pagerank", "score", v)
            if not np.allclose(got, ref["pagerank"], rtol=1e-6):
                err = np.abs(got - ref["pagerank"]).max()
                raise PhaseFailed(f"pagerank: max abs error {err:.3g}")

        ctx.call(
            rnd, "pagerank", "pagerank",
            lambda: pagerank(
                g, max_iter=self.pr_max_iter, tol=PR_TOL, norm="l1", iters_out=pr_iters,
                timings_out=rnd.pr_timings, **ckpt.get("pagerank", {}),
            ).write.parquet(f"{out}/pagerank"),
            check_pagerank,
        )
        ctx.call(
            rnd, "wcc", "wcc",
            lambda: weakly_connected_components(
                g, iters_out=wcc_iters, **ckpt.get("wcc", {})
            ).write.parquet(f"{out}/wcc"),
            lambda _: _exact(f"{out}/wcc", "component", v, ref["wcc"]),
        )
        ctx.call(
            rnd, "lpa", "lpa",
            lambda: label_propagation(g, **self.lpa_args).write.parquet(f"{out}/lpa"),
            lambda _: _exact(f"{out}/lpa", "label", v, ref["lpa"]),
        )

        def triangles():
            total = global_triangle_count(g, kernel=self.triangle_kernel)
            per_edge_triangles(g, kernel=self.triangle_kernel).write.parquet(
                f"{out}/triangles"
            )
            return total

        def check_triangles(total):
            pdf = _read(f"{out}/triangles")
            got = dict(zip(zip(pdf["lo"].tolist(), pdf["hi"].tolist()),
                           pdf["triangles"].tolist()))
            want_total, want_edges = ref["triangles"]
            if total != want_total or got != want_edges:
                raise PhaseFailed(f"triangles: global {total} vs {want_total}, "
                                  "or the per-edge attribution differs")

        ctx.call(rnd, "triangles", "triangles", triangles, check_triangles)
        rnd.pr_steps = pr_iters.get("iterations", 0)
        rnd.wcc_steps = wcc_iters.get("iterations", 0)  # the local kernel reports none
        rnd.edge_iters = v.m * rnd.pr_steps
        return rnd


# One graph shape for both workloads: on it WCC takes 5 supersteps for 15 of
# 16 seeds tried and sync LPA reaches its fixpoint at 8 or more half-sweeps
# for all of them, so the work in a run does not depend on the seed.
PARAMS = GenParams(repos=1500, files=9000)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="extract_auto",
            why="Documented defaults from the source table: sha256-checked "
            "extraction, dedup and the driver-side kernels; no superstep loop runs",
            params=PARAMS,
            round_s=8.0,
            warmup_rounds=1,
            from_source=True,
            checkpointed=False,
            pr_max_iter=200,
            lpa_args={},
            triangle_kernel="auto",
        ),
        # PageRank runs a fixed 4 supersteps: converging to 1e-9 takes 13-15
        # on this graph at about 1.1 s each with checkpoints, more than a run
        # can hold; the reference unrolls the same 4.
        Workload(
            name="superstep_ckpt",
            why="Saved graph through the distributed superstep loop: "
            "checkpointed PageRank and WCC, sync LPA, JVM triangle kernel; "
            "no extraction, no driver-side kernels",
            params=PARAMS,
            round_s=25.0,
            # a warm-up round would take as long as the measured one, which
            # the run budget cannot hold: this workload reports a cold round
            warmup_rounds=0,
            from_source=False,
            checkpointed=True,
            pr_max_iter=4,
            lpa_args={"mode": "sync", "max_sweeps": 8},
            triangle_kernel="jvm",
        ),
    )
}
