"""linkgraph benchmark: one workload, one seed, one JSON result line.

Run from the root of a linkgraph checkout::

    python3 perfbench/run.py --workload extract_auto --seed 1 --seconds 20 --trace 0

The run sizes Spark to the host (``nproc`` cores; a quarter of the memory
actually available, as a power of two, for the driver), sets up three
times (session start, input generation and write, warm-up scan) and reports
the median, and computes the reference results once.  It then runs the
workload's calls for a fixed number of rounds, ``--seconds`` divided by the
workload's nominal round length, and reports per-call medians.  Every
call's output is checked against the reference.  With ``--trace 1`` it
instead runs two untraced passes and one traced pass, and reports the
per-layer counters parsed from Spark's event log.

Everything it writes goes under ``.perfbench_out/`` in the checkout: the
run's scratch directory is deleted at the end, the result record is
appended to ``.perfbench_out/results.jsonl`` and a traced run's spans are
written to ``.perfbench_out/spans-<run id>.jsonl``.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

SETUPS = 3


def _median(xs):
    return float(statistics.median(xs))


# ------------------------------------------------------------------ host
def host_size() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    avail_mb = info["MemAvailable"] // 1024
    # a quarter of what is available, rounded down to a power of two so the
    # heap size (and with it GC behaviour) stays put as that figure drifts
    driver_mb = 1024
    while driver_mb * 2 <= min(4096, avail_mb // 4):
        driver_mb *= 2
    return {"cores": cores, "mem_available_mb": avail_mb, "driver_memory_mb": driver_mb}


def _vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def _reset_hwm() -> None:
    # "5" resets the peak resident set size (VmHWM) of this process, so the
    # driver peak covers the measured calls, not input generation
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _dir_size(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for base, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(base, f))
            nfiles += 1
    return nbytes, nfiles


# ---------------------------------------------------------------- session
def start_session(host: dict, work: str, event_log: str | None = None):
    from linkgraph import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep the JVM's temp files (native libraries, artifacts) in the
        # checkout, and write no hsperfdata file to the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        cores=host["cores"],
        driver_memory=f"{host['driver_memory_mb']}m",
        extra_conf=conf,
    )


def stop_jvm() -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _scan(spark, source: str) -> None:
    spark.read.parquet(source).count()


def setup(host: dict, work: str, workload, seed: int):
    """Session start, input generation and write, warm-up; returns
    ``(spark, generated input, {phase: seconds})``."""
    import gen as generator

    t0 = time.perf_counter()
    spark = start_session(host, work)
    t1 = time.perf_counter()
    data = generator.generate(seed, workload.params)
    t2 = time.perf_counter()
    shutil.rmtree(f"{work}/input", ignore_errors=True)
    nbytes = generator.write(data, f"{work}/input")
    t3 = time.perf_counter()
    _scan(spark, f"{work}/input/source")
    t4 = time.perf_counter()
    times = {"total": t4 - t0, "session": t1 - t0, "gen": t2 - t1, "write": t3 - t2,
             "warmup": t4 - t3, "bytes": nbytes}
    return spark, data, times


# ------------------------------------------------------------------ rounds
def _round_total(rnd) -> float:
    return sum(rnd.times.values())


def e2e_metrics(rounds, setups, driver_rss_mb: float) -> dict:
    def med(phase):
        return _median([r.times[phase] for r in rounds])

    m = {
        "setup_s": (_median([s["total"] for s in setups]), "s"),
        "ingest_s": (med("ingest"), "s"),
        "graph_s": (med("graph"), "s"),
        "pagerank_s": (med("pagerank"), "s"),
        "pagerank_edge_iters_per_s": (
            _median([r.edge_iters / r.times["pagerank"] for r in rounds]), "edges/s"
        ),
        "wcc_s": (med("wcc"), "s"),
        "lpa_s": (med("lpa"), "s"),
        "triangles_s": (med("triangles"), "s"),
        "total_s": (_median([_round_total(r) for r in rounds]), "s"),
        "driver_peak_rss_mb": (driver_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _self_check_calls(spark, tracer) -> None:
    """Two calls on a handful of nodes whose attribution is known: one runs
    Spark jobs, the other none and 0.2 s of driver time."""
    from linkgraph import LinkGraph
    from linkgraph.algorithms.pagerank import pagerank

    tiny = LinkGraph.from_edge_list(
        spark, [(0, "1", "2"), (0, "2", "3"), (0, "3", "1"), (0, "4", "1"), (0, "5", "5")]
    )
    with tracer.call("selfcheck/pagerank", "selfcheck"):
        pagerank(tiny, max_iter=50, tol=1e-9, norm="l1").collect()
    with tracer.call("selfcheck/idle", "selfcheck"):
        time.sleep(0.2)


def per_layer_metrics(tracer, jobs, stages, rnd, setups, ref, spark_stats, overhead_s):
    import tracing

    calls = {c["name"]: c for c in tracer.calls}
    pr = tracing.call_counters(calls["selfcheck/pagerank"], jobs, stages)
    idle = tracing.call_counters(calls["selfcheck/idle"], jobs, stages)
    if pr["jobs"] < 1 or idle["jobs"] != 0 or not 0.19 <= idle["driver_only_s"] <= 0.5:
        raise AssertionError(f"trace self-check on the tiny graph failed: {pr} {idle}")
    known = {c["name"] for c in tracer.calls}
    stray = [j for j, job in jobs.items()
             if job["group"] not in known and not str(job["group"]).endswith(("/check", "setup"))
             and job["group"] != "meta"]
    if stray:
        raise AssertionError(f"jobs outside any traced call: {stray[:5]}")

    layers = ("load", "extract", "graph", "pagerank", "wcc", "lpa", "triangles")
    m = {k: (v, _layer_unit(k)) for k, v in
         tracing.layer_counters(tracer.calls, jobs, stages, layers).items()}
    v = ref["view"]
    is_extract = "extract" in {c["layer"] for c in tracer.calls}
    steps = [d for it, d in rnd.pr_timings if it != "setup"]
    step_jobs = [tracing.jobs_within(jobs, mk["start"], mk["end"]) for mk in tracer.marks
                 if mk["name"].split("/")[-1] != "setup"]
    m.update({
        "session.start_s": (_median([s["session"] for s in setups]), "s"),
        "input.gen_s": (_median([s["gen"] for s in setups]), "s"),
        "input.files": (ref["files"], "count"),
        "input.bytes": (setups[-1]["bytes"], "bytes"),
        "extract.rows_in": (ref["files"] if is_extract else 0, "count"),
        "extract.edges_out": (v.temporal if is_extract else 0, "count"),
        "graph.temporal_edges": (v.temporal, "count"),
        "graph.simple_edges": (v.m, "count"),
        "graph.nodes": (v.n, "count"),
        "pagerank.supersteps": (rnd.pr_steps, "count"),
        "wcc.supersteps": (rnd.wcc_steps, "count"),
        # the checks passed, so the engine's outcomes are the reference's
        "wcc.components": (int(np.unique(ref["wcc"]).size), "count"),
        "lpa.communities": (int(np.unique(ref["lpa"]).size), "count"),
        "triangles.count": (ref["triangles"][0], "count"),
        "superstep.setup_s": (sum(d for it, d in rnd.pr_timings if it == "setup"), "s"),
        "superstep.step_s_p50": (_median(steps) if steps else 0.0, "s"),
        "superstep.step_s_max": (max(steps, default=0.0), "s"),
        "superstep.jobs_per_step": (_median(step_jobs) if step_jobs else 0.0, "count"),
        "superstep.checkpoint_bytes": (spark_stats["ckpt_bytes"], "bytes"),
        "superstep.checkpoint_files": (spark_stats["ckpt_files"], "count"),
        "superstep.lineage_rows": (spark_stats["lineage_rows"], "count"),
        "jvm.peak_rss_mb": (spark_stats["jvm_rss_mb"], "MB"),
        "trace.overhead_s": (overhead_s, "s"),
        "ref.pagerank_s": (ref["seconds"]["pagerank"], "s"),
        "ref.wcc_s": (ref["seconds"]["wcc"], "s"),
        "ref.triangles_s": (ref["seconds"]["triangles"], "s"),
    })
    return {k: {"value": val, "unit": u} for k, (val, u) in m.items()}


def _layer_unit(key: str) -> str:
    c = key.split(".", 1)[1]
    if c.endswith("_bytes"):
        return "bytes"
    return "s" if c.endswith("_s") else "count"


def checkpoint_stats(spark, rnd) -> dict:
    from linkgraph.superstep import CheckpointStore

    nbytes = nfiles = rows = 0
    for d in rnd.ckpt_dirs:
        b, f = _dir_size(d)
        nbytes, nfiles = nbytes + b, nfiles + f
        rows += CheckpointStore(spark, d).lineage().count()
    return {"ckpt_bytes": nbytes, "ckpt_files": nfiles, "lineage_rows": rows}


def traced_run(ctx, workload, host, work, run_id, setups, record):
    """Two untraced passes (the first warms the JIT, so both compared passes
    run warm), then one traced pass in a session that writes Spark's event
    log.  Returns the two compared rounds and the per-layer metrics."""
    import tracing

    tracing.self_check()
    inputs = f"{work}/input"
    for name in ("warm", "untraced"):
        untraced = workload.round(ctx, inputs, f"{work}/out/{name}")
        ctx.spark.catalog.clearCache()
    ctx.spark.stop()
    spark = start_session(host, work, event_log=f"{work}/eventlog")
    tracer = tracing.Tracer(spark.sparkContext)
    # the untraced passes ran with Python workers already started
    src = spark.read.parquet(f"{inputs}/source").select("lang")
    src.mapInPandas(lambda batches: batches, "lang string").count()
    ctx.spark, ctx.tracer = spark, tracer
    t_run = time.time() * 1000.0
    _self_check_calls(spark, tracer)
    rnd = workload.round(ctx, inputs, f"{work}/out/traced")
    t_run_end = time.time() * 1000.0
    tracer.idle("meta")
    stats = checkpoint_stats(spark, rnd)
    stats["jvm_rss_mb"] = _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    jobs, stages = tracing.parse(tracing.read_events(f"{work}/eventlog"))
    metrics = per_layer_metrics(
        tracer, jobs, stages, rnd, setups, ctx.ref, stats,
        _round_total(rnd) - _round_total(untraced),
    )
    record["spans"] = tracing.write_spans(
        os.path.join(os.path.dirname(work), f"spans-{run_id}.jsonl"),
        tracing.spans(run_id, {"name": run_id, "start": t_run, "end": t_run_end},
                      tracer.calls, tracer.marks, jobs, stages),
    )
    return [untraced, rnd], metrics


# -------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "linkgraph", "__init__.py")):
        print("perfbench: run from the root of a linkgraph checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from workloads import WORKLOADS, Ctx, PhaseFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    out_root = os.path.join(root, ".perfbench_out")
    work = os.path.join(out_root, run_id)
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    host = host_size()
    record = {"run": run_id, "workload": workload.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "gen": workload.params.as_dict(), "why": workload.why}
    spark, setups, rounds, metrics, correct = None, [], [], {}, False
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, data, times = setup(host, work, workload, args.seed)
            setups.append(times)
        ref = workload.reference(data)
        del data
        ctx = Ctx(spark, ref)
        if not args.trace:
            gc.collect()
            _reset_hwm()
            for i in range(workload.warmup_rounds + workload.rounds(args.seconds)):
                rounds.append(workload.round(ctx, f"{work}/input", f"{work}/out/r{i}"))
                spark.catalog.clearCache()
            metrics = e2e_metrics(rounds[workload.warmup_rounds:], setups, _vm_hwm_mb())
        else:
            rounds, metrics = traced_run(ctx, workload, host, work, run_id, setups, record)
        correct = ctx.failed == 0
    except PhaseFailed as exc:
        traceback.print_exc()
        record["error"] = str(exc)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = max(1, ctx.attempted), ctx.failed
    record.update({
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "setups": setups,
        "rounds": [{"times": r.times, "edge_iters": r.edge_iters} for r in rounds],
        "metrics": metrics,
    })
    with open(os.path.join(out_root, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record, default=float) + "\n")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"failed_frac = {failed / attempted:.6g} ratio  "
          f"(cores={host['cores']}, driver_memory={host['driver_memory_mb']}MB, "
          f"rounds={len(rounds)})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, default=float), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
