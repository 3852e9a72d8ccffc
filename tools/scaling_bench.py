#!/usr/bin/env python
"""Scaling-efficiency benchmark — the BASELINE.json north rule evidence.

The rule asks for throughput scaling efficiency >= 0.8 between N and 4N
executors on a real cluster.  This sandbox has one machine, so the stand-in
is the same PageRank job at two parallelism levels (``local[4]`` vs
``local[16]``) on the SAME input, in separate JVMs (Spark cannot change its
master in-process).  Results go to BENCH.md.

The input is a deterministic seeded power-law-ish edge table synthesised
with ``spark.range`` + xxhash (no external data), sized so per-superstep
compute dominates fixed driver overhead — the regime a 1000-executor 100 TB
run lives in.  PageRank runs a FIXED superstep count (tol=0) so both levels
do identical work.

Usage:
  python tools/scaling_bench.py                 # full N vs 4N comparison
  python tools/scaling_bench.py --worker --cores 8   # one level (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# sized so per-superstep compute amortizes the ~1-2s/superstep fixed cost
# (scheduling + one driver roundtrip) well below 20% at the N level
N_EDGES = int(os.environ.get("SCALING_EDGES", 160_000_000))
N_NODES = N_EDGES // 8
# the north-rule metric is a full convergence run (~50 supersteps at
# tol 1e-9); 24 fixed supersteps keeps one-time setup under ~15% of wall
ITERS = int(os.environ.get("SCALING_ITERS", 24))
REPS = int(os.environ.get("SCALING_REPS", 1))
LO = int(os.environ.get("SCALING_LO", 4))
HI = int(os.environ.get("SCALING_HI", 4 * LO))
# the distributed kernel: "auto" would pick the driver-local one below
# DRIVER_KERNEL_MAX, which measures one core, not scaling
KERNEL = "superstep"
# N and 4N parallelism levels (within physical cores: the sandbox VM
# advertises 32 vCPUs but sustained all-core throughput tops out near ~20
# cores-worth, so 8->32 measures the host, not us).  A second pair at
# SCALING_LO=2 (2->8) evidences the unsaturated-bandwidth regime — see
# BENCH.md.


def synth_edges(spark, n_edges: int, n_nodes: int):
    """Seeded synthetic edge table: ~90% uniform destinations, ~10% directed
    at a 1000-node hub set (the skew a real repo-dependency graph shows)."""
    from pyspark.sql import functions as F

    e = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src_id"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10)) == 0,
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1000)),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(4)), F.lit(n_nodes)))
        .alias("dst_id"),
    )
    return e


def worker(cores: int) -> None:
    from pyspark.sql import functions as F

    from linkgraph.algorithms.pagerank import pagerank_on_ids
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name=f"scaling[{cores}]", cores=cores, shuffle_partitions=2 * cores,
        driver_memory="24g",
    )
    nodes = spark.range(N_NODES).select(F.col("id"))
    # dedup + materialize the input fully before the clock starts
    edges = (
        synth_edges(spark, N_EDGES, N_NODES)
        .distinct()
        .repartition(2 * cores, "src_id")
        .persist()
    )
    n_simple = edges.count()

    # best-of-REPS in-process reps: the sandbox's wall-clock noise is
    # large (shared host); min is the honest steady-state figure
    wall = None
    for _ in range(REPS):
        t0 = time.monotonic()
        res = pagerank_on_ids(
            spark, nodes, edges, max_iter=ITERS, tol=0.0, norm="l1",
            partitions=2 * cores, pre_deduped=True, kernel=KERNEL,
        )
        res.write.format("noop").mode("overwrite").save()
        w = time.monotonic() - t0
        wall = w if wall is None or w < wall else wall
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "kernel": KERNEL,
                "wall_s": round(wall, 2),
                "n_edges": n_simple,
                "iters": ITERS,
                "edges_per_sec": round(n_simple * ITERS / wall, 1),
            }
        )
    )


def run_level(cores: int) -> dict:
    env = dict(os.environ)
    # tmpfs shuffle dir: opt-in (see session.py) — this sandbox has 126 GB
    # of /dev/shm and noisy disk, so the bench uses it explicitly
    env["LINKGRAPH_TMPFS"] = "1"
    # PIN the JVM to exactly `cores` physical CPUs. Without pinning,
    # local[4] still has all 32 host cores available for GC, JIT, shuffle
    # compression and Netty threads — free help a real 4-core executor
    # does not get — which deflates the measured 4→16 scaling. taskset
    # makes each level a faithful stand-in for an N-core cluster slice
    # (JVM 17 reads availableProcessors from the affinity mask, so its
    # internal thread pools size honestly too).
    log_path = f"/tmp/scaling_worker_{KERNEL}_{cores}.log"
    with open(log_path, "w") as log:
        subprocess.run(
            [
                "taskset", "-c", f"0-{cores - 1}",
                sys.executable, os.path.abspath(__file__), "--worker", "--cores", str(cores),
            ],
            stdout=log, stderr=subprocess.STDOUT, text=True, env=env, cwd=REPO,
            timeout=7200,
        )
    with open(log_path) as log:
        for line in log:
            if line.startswith("WORKER_RESULT "):
                return json.loads(line[len("WORKER_RESULT "):])
    raise RuntimeError(
        f"worker local[{cores}] produced no result — see {log_path}"
    )


def _burn_cpu(_):
    t0 = time.monotonic()
    x = 0
    while time.monotonic() - t0 < 2.0:
        x += 1
    return x


def _burn_mem(_):
    # memory-bandwidth-bound: stream ~256 MB of float64 per pass; counts
    # passes in 2s.  This is the resource a shuffle-heavy Spark job actually
    # contends on, so it is the honest single-box ceiling control.
    import numpy as np

    a = np.ones(16_000_000)
    b = np.full(16_000_000, 1.0000003)
    t0 = time.monotonic()
    x = 0
    while time.monotonic() - t0 < 2.0:
        a *= b
        x += 1
    return x


def host_ceilings() -> dict:
    """The host's own strong-scaling ceilings LO→HI procs — context for the
    Spark numbers: a single box shares memory bandwidth and thermal/turbo
    budget across cores, so even embarrassingly parallel work does not scale
    linearly here (a real N-vs-4N EXECUTOR comparison adds whole machines,
    bandwidth included).  Two controls: pure-CPU spin (turbo/thermal only)
    and memory streaming (bandwidth — what shuffles contend on)."""
    import multiprocessing as mp

    out = {}
    for name, fn in (("cpu", _burn_cpu), ("mem", _burn_mem)):
        per = {}
        for n in (LO, HI):
            with mp.Pool(n) as p:
                per[n] = sum(p.map(fn, range(n)))
        out[name] = round(per[HI] / per[LO] / (HI / LO), 3)
    return out


def run_scaling(sf_dir: str | None = None) -> dict:
    lo = run_level(LO)
    hi = run_level(HI)
    speedup = hi["edges_per_sec"] / lo["edges_per_sec"]
    eff = speedup / (HI / LO)
    ceil = host_ceilings()
    return {
        f"local[{LO}]": lo,
        f"local[{HI}]": hi,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "cpu_ceiling_efficiency": ceil["cpu"],
        "mem_ceiling_efficiency": ceil["mem"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()
    if args.worker:
        worker(args.cores)
        return
    result = run_scaling()
    print(json.dumps(result, indent=2))
    with open(f"/tmp/scaling_{LO}_{HI}.json", "w") as f:
        json.dump(result, f)
    if os.environ.get("SCALING_NO_REPORT") == "1":
        return
    lo, hi = result[f"local[{LO}]"], result[f"local[{HI}]"]
    # APPEND a dated section — BENCH.md accumulates the round's evidence;
    # overwriting it (the pre-round-4 behavior) destroyed the history once
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(
            f"""

## Scaling pair ({time.strftime('%Y-%m-%d %H:%M')}) — local[{LO}] → local[{HI}], {ITERS} supersteps, {lo['n_edges']:,} edges / {N_NODES:,} nodes

| parallelism | wall (s) | throughput (edges/sec) |
|---|---|---|
| local[{LO}] (N)  | {lo['wall_s']} | {lo['edges_per_sec']:,} |
| local[{HI}] (4N) | {hi['wall_s']} | {hi['edges_per_sec']:,} |

Speedup {result['speedup']}x — scaling efficiency
**{result['scaling_efficiency']}** (target ≥ 0.8 per BASELINE.json).
Same-window host ceiling controls: pure-CPU spin
{result['cpu_ceiling_efficiency']}, memory-streaming
{result['mem_ceiling_efficiency']} — the job attains
{round(result['scaling_efficiency'] / result['mem_ceiling_efficiency'], 2)}
of the bandwidth ceiling this window.
"""
        )
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
