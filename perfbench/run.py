"""Seeded link-graph benchmark.

    python3 perfbench/run.py --workload repo_louvain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One process generates
the workload's input from ``--seed``, starts Spark on ``local[<cpus>]``,
sets up ``SETUP_REPS`` times, runs iterations of the workload for about
``--seconds`` seconds, checks every result against ``vite_spark.oracle``
and prints one JSON object as the last line of standard output. With
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer ones (from iterations run with spans on, alternating with
iterations run with spans off, whose difference is the tracing overhead).
The metric, layer and workload map is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

SETUP_REPS = 3
DRIVER_MEMORY = "3g"

END_TO_END = ["setup_s", "run_s", "edges_per_s", "community_q", "peak_rss_mb"]

PER_LAYER = [
    "session.start_s", "session.workers_s",
    "derive.s", "derive.rows_in", "derive.edges_out", "derive.pairs_emitted",
    "derive.useful_ratio",
    "louvain.s", "louvain.levels", "louvain.supersteps", "louvain.superstep_s",
    "louvain.other_s", "louvain.teps", "louvain.move_ratio",
    "louvain.supersteps.csr_packed", "louvain.supersteps.local",
    "louvain.supersteps.join",
    "pagerank.s", "pagerank.iters", "pagerank.iter_s", "pagerank.pack_s",
    "cc.s", "cc.iters", "cc.iter_s", "cc.changed",
    "lpa.s", "lpa.iters", "lpa.iter_s", "lpa.changed",
    "triangles.s", "triangles.count",
    "checkpoint.bytes", "checkpoint.files", "checkpoint.bytes_per_superstep",
    "crash_run.s", "resume.s", "resume.supersteps", "cc_ckpt.s",
    "verify.s", "error_rate",
    "run.self_s", "trace.run_s", "trace.self_sum_s", "trace.overhead_s",
    "shape.rows", "shape.vertices", "shape.edge_rows", "shape.max_degree",
    "shape.max_key_freq", "shape.cap_dropped_rows",
]


def unit_of(name: str) -> str:
    if name in ("edges_per_s", "louvain.teps"):
        return "1/s"
    if name == "peak_rss_mb":
        return "MB"
    if name == "community_q":
        return "Q"
    if name.endswith(("ratio", "error_rate")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["repo_louvain", "kernel_suite",
                             "checkpoint_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Keep every file Spark and the kernels write inside ``work``, and let
    Spark's Python workers import the program."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "scratch", "spark")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    return dirs


def start_session(dirs: dict[str, str]):
    from vite_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", cores=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            # the whole heap resident from the start: the JVM's share of
            # peak_rss_mb then does not depend on when collections ran
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    })


def _import_program(batches):
    """Import every kernel module, so that later jobs find warm workers."""
    import importlib
    import pkgutil

    import vite_spark.kernels

    for m in pkgutil.iter_modules(vite_spark.kernels.__path__):
        importlib.import_module(f"vite_spark.kernels.{m.name}")
    yield from batches


def start_workers(spark) -> None:
    """One task per core, each starting a Python worker (Spark reuses
    them) with the program imported."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(
        _import_program, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers under it, and
    wait until every one of those processes has ended."""
    from pyspark import SparkContext

    from spans import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    kids = descendants(os.getpid())
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vite_spark", "__init__.py")):
        print("perfbench: vite_spark/ is not next to perfbench/; run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{os.getpid()}")
    dirs = configure_env(work)
    sys.path.insert(0, ROOT)

    from spans import ScratchSampler, Tracer
    from workloads import WORKLOADS, OpLog

    sessions = []

    def new_session():
        if sessions:
            sessions[-1].stop()
        sessions.append(start_session(dirs))
        return sessions[-1]

    sampler = ScratchSampler(dirs["scratch"])
    sampler.start()
    try:
        result = bench(args, WORKLOADS[args.workload], work, sampler,
                       Tracer(False), OpLog(), new_session)
    finally:
        stop_spark(sessions[-1] if sessions else None)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def bench(args, wl, work, sampler, tracer, ops, new_session) -> dict:
    import numpy as np

    from spans import tree_peak_rss_bytes

    # set-up, several times: session (re)start, input, load, warm-up job
    setups, starts = [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = new_session()
        starts.append(time.perf_counter() - t0)
        inp = wl.generate(args.seed)
        state = wl.load(spark, inp, os.path.join(work, f"input{rep}"))
        setups.append(time.perf_counter() - t0)
    # Python workers start once per session; the last session's stay up
    t0 = time.perf_counter()
    start_workers(spark)
    workers_s = time.perf_counter() - t0

    # measure. Plain runs: iterations while they fit in --seconds (at
    # least one). Traced runs: plain, traced, plain, traced. Iterations
    # speed up as the JVM warms, so the overhead compares the middle plain
    # iteration with the mean of the traced ones around it.
    plain, traced, outs = [], [], []
    t_window = time.perf_counter()
    while True:
        tracer.enabled = bool(args.trace) and len(outs) % 2 == 1
        tracer.run_id = len(outs)
        t0 = time.perf_counter()
        with tracer.span("run"):
            out = wl.run(spark, state, ops, tracer)
        dt = time.perf_counter() - t0
        (traced if tracer.enabled else plain).append(dt)
        wl.collect(out)
        outs.append((tracer.enabled, tracer.run_id, out))
        if args.trace:
            if len(outs) == 4:
                break
        elif time.perf_counter() - t_window + dt > args.seconds:
            break
    tracer.enabled = False
    peak_mb = (tree_peak_rss_bytes(os.getpid()) + sampler.peak) / 2**20

    # verify, outside set-up and run time
    t0 = time.perf_counter()
    ref = wl.reference(inp)
    wl.check_setup(spark, state, ref, ops, tracer)
    for _, _, out in outs:
        wl.check(out, ref, ops)
    verify_s = time.perf_counter() - t0
    for err in ops.errors:
        print(f"perfbench: FAILED {err}", flush=True)

    edges = ref["edges"]
    run_s = statistics.median(plain)
    shape = ref["shape"]
    deg = np.bincount(edges.src, minlength=edges.nv)
    print(f"perfbench: {wl.name} seed={args.seed} rows={shape['rows']} "
          f"vertices={int((deg > 0).sum())} edge_rows={len(edges.src)} "
          f"iterations={len(plain)}+{len(traced)} run_s={plain}", flush=True)

    if not args.trace:
        vals = {
            "setup_s": statistics.median(setups) + workers_s,
            "run_s": run_s,
            "edges_per_s": len(edges.src) / run_s,
            "community_q": wl.quality(outs[0][2], ref),
            "peak_rss_mb": peak_mb,
        }
    else:
        rows = [dict(wl.layers(out, ref), **out) for t, _, out in outs if t]
        vals = {name: statistics.median(r.get(name, 0) for r in rows)
                for name in PER_LAYER}
        self_t = {}
        for t, rid, _ in outs:
            for name, sec in (tracer.self_times(rid) if t else {}).items():
                self_t[name] = self_t.get(name, 0.0) + sec / len(traced)
        vals.update({
            "session.start_s": statistics.median(starts),
            "session.workers_s": workers_s,
            "verify.s": verify_s,
            "error_rate": ops.failed / ops.attempted,
            "run.self_s": self_t.get("run", 0.0),
            "trace.run_s": statistics.mean(traced),
            "trace.self_sum_s": sum(self_t.values()),
            "trace.overhead_s": statistics.mean(traced) - plain[1],
            "shape.rows": shape["rows"],
            "shape.vertices": int((deg > 0).sum()),
            "shape.edge_rows": len(edges.src),
            "shape.max_degree": int(deg.max()),
            "shape.max_key_freq": shape.get("max_key_freq", 0),
            "shape.cap_dropped_rows": shape.get("cap_dropped_rows", 0),
        })
        tracer.write(os.path.join(
            OUT, f"trace-{wl.name}-seed{args.seed}.json"))
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in vals.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
