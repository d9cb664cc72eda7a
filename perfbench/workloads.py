"""The benchmark's workloads.

Each workload generates its input from the seed, loads it into Spark
during set-up, runs one iteration of public calls per ``run``, and checks
what those calls returned against ``vite_spark.oracle`` (plus the NumPy
co-occurrence reference for derive). See README.md for why each exists.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from vite_spark.algos.components import connected_components
from vite_spark.algos.louvain import louvain
from vite_spark.algos.lpa import label_propagation
from vite_spark.algos.pagerank import pagerank
from vite_spark.algos.triangles import triangle_count
from vite_spark.config import EngineConfig
from vite_spark.derive import repos_to_edges
from vite_spark.oracle import simple_ref
from vite_spark.runtime.metrics import MetricsCollector

import check
import gen
from spans import dir_usage

# Sizes. Spark's fixed cost per job dominates at every size that fits the
# run budget, so these are chosen for a few seconds per public call.
REPO_LOUVAIN_REPOS = 12_000   # > DEFAULT_MAX_KEY_FREQ / 0.9: the cap binds
KERNEL_VERTICES = 50_000
PAGERANK_ITERS = 10
LPA_ITERS = 10
CKPT_REPOS = 2_000
CRASH_AFTER = 2               # supersteps before the simulated crash


class OpLog:
    """Failure accounting: every public call is one op; an exception or a
    gate miss fails it (once), and the benchmark keeps going."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, tracer, name, fn, counts=None):
        """Run ``fn`` as op ``name`` in a span; returns (result, seconds,
        ok). A failed call returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        with tracer.span(name, counts):
            try:
                out, ok = fn(), True
            except Exception as exc:   # the benchmark keeps going
                traceback.print_exc()
                out, ok = None, False
                self.fail(name, repr(exc))
        return out, time.perf_counter() - t0, ok

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")


def _write_parquet(df, path: str, parts: int) -> None:
    """One file per part so that Spark's scan gets ``parts`` splits."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-tbl.num_rows // parts)
    for i in range(parts):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _load(spark, frame, path: str):
    """Write ``frame`` as parquet and read it back cached; the warm-up job
    materializes the cache."""
    _write_parquet(frame, path, spark.sparkContext.defaultParallelism)
    df = spark.read.parquet(path).persist()
    df.count()
    return df


def _edges_np(df) -> gen.EdgeInput:
    """Collect an edge DataFrame, sorted by (src, dst)."""
    pdf = df.toPandas().sort_values(["src", "dst"], kind="stable")
    src = pdf["src"].to_numpy(np.int64)
    return gen.EdgeInput(src=src, dst=pdf["dst"].to_numpy(np.int64),
                         weight=pdf["weight"].to_numpy(np.float64),
                         nv=int(src.max()) + 1 if len(src) else 0)


def _frame_np(pdf, key: str, val: str):
    return pdf[key].to_numpy(np.int64), pdf[val].to_numpy()


def louvain_layers(rows: list[dict], seconds: float) -> dict:
    """Per-layer Louvain figures from the MetricsCollector superstep rows."""
    sup = [r for r in rows if r.get("kind") == "superstep"]
    tiers = {"csr_packed": 0, "local": 0, "join": 0}
    for r in sup:
        mode = r.get("mode", "join")
        tiers["local" if mode == "local_csr" else
              "join" if mode == "join" else "csr_packed"] += 1
    step_s = sum(r.get("wall_s", 0.0) for r in sup)
    moved = [r for r in sup if r.get("moved", -1) >= 0]
    active = sum(r.get("active", 0) for r in moved)
    out = {
        "louvain.s": seconds,
        "louvain.supersteps": len(sup),
        "louvain.superstep_s": step_s,
        "louvain.other_s": seconds - step_s,
        "louvain.teps": (sum(r.get("edges_processed", 0) for r in sup)
                         / seconds if seconds > 0 else 0.0),
        "louvain.move_ratio": (sum(r["moved"] for r in moved) / active
                               if active else 0.0),
    }
    out.update({f"louvain.supersteps.{k}": v for k, v in tiers.items()})
    return out


def _iter_layers(name: str, rows: list[dict], seconds: float) -> dict:
    """Figures of one of the iterative kernels from its ``{name}_superstep``
    and ``{name}_finalize`` rows: call time, iterations, summed iteration
    wall, the rest of the call (pack build and output), changed count."""
    steps = [r for r in rows if r.get("kind") == f"{name}_superstep"]
    iter_s = sum(r.get("wall_s", 0.0) for r in rows
                 if r.get("kind") in (f"{name}_superstep", f"{name}_finalize"))
    return {
        f"{name}.s": seconds,
        f"{name}.iters": len(steps),
        f"{name}.iter_s": iter_s,
        f"{name}.pack_s": seconds - iter_s,
        f"{name}.changed": sum(r.get("changed", 0) for r in steps),
    }


class Workload:
    """Hooks the runner calls; see ``perfbench/run.py`` for the order."""

    name = ""

    def collect(self, out: dict) -> None:
        """Turn an iteration's results into NumPy, outside the timing."""

    def check_setup(self, spark, state, ref, ops, tracer) -> None:
        """Checks of what set-up produced, once per run."""

    def layers(self, out: dict, ref: dict) -> dict:
        """Per-layer figures that need the reference."""
        return {}

    def quality(self, out: dict, ref: dict) -> float:
        return out.get("q", 0.0)


class RepoLouvain(Workload):
    """repos table → ``repos_to_edges`` → default multi-level ``louvain``."""

    name = "repo_louvain"

    def generate(self, seed: int):
        return gen.repos_table(seed, REPO_LOUVAIN_REPOS)

    def load(self, spark, inp, work: str) -> dict:
        repos = _load(spark, inp.table, os.path.join(work, "repos"))
        return {"repos": repos, "rows": len(inp.table)}

    def run(self, spark, state, ops, tracer) -> dict:
        out: dict = {}

        def derive():
            edges, _ids = repos_to_edges(state["repos"])
            edges = edges.persist()
            out["edge_rows"] = edges.count()
            return edges

        edges, out["derive.s"], ok = ops.call(
            tracer, "derive", derive,
            lambda: {"rows_in": state["rows"],
                     "edges_out": out.get("edge_rows", 0)})
        out["edges"] = edges
        if not ok:
            return out
        m = MetricsCollector()

        def run_louvain():
            res = louvain(spark, edges, metrics=m)
            return res, res.labels.toPandas()

        got, sec, ok = ops.call(tracer, "louvain", run_louvain,
                                lambda: louvain_layers(m.rows, 0.0))
        out.update(louvain_layers(m.rows, sec))
        if ok:
            res, labels = got
            out["labels"] = _frame_np(labels, "id", "comm")
            out["q"] = res.final_q
            out["louvain.levels"] = res.levels
        return out

    def collect(self, out: dict) -> None:
        edges = out.pop("edges", None)
        if edges is not None:
            out["edges_np"] = _edges_np(edges)
            edges.unpersist()

    def reference(self, inp) -> dict:
        edges = check.derive_ref(inp)
        shape = check.repos_shape(inp)
        return {"edges": edges, "louvain": check.louvain_reference(edges),
                "shape": shape}

    def check(self, out: dict, ref: dict, ops: OpLog) -> None:
        if "edges_np" in out:
            err = check.same_edges(out["edges_np"], ref["edges"])
            if err:
                ops.fail("derive", err)
        if "labels" in out:
            err = check.same_louvain(*out["labels"], out["q"], ref["louvain"])
            if err:
                ops.fail("louvain", err)

    def layers(self, out: dict, ref: dict) -> dict:
        pairs = ref["shape"]["pairs_emitted"]
        return {
            "derive.rows_in": ref["shape"]["rows"],
            "derive.edges_out": out.get("edge_rows", 0),
            "derive.pairs_emitted": pairs,
            "derive.useful_ratio": (out.get("edge_rows", 0) / pairs
                                    if pairs else 0.0),
        }


class KernelSuite(Workload):
    """One edge table through PageRank, CC, LPA and triangle count."""

    name = "kernel_suite"

    def generate(self, seed: int):
        return gen.kernel_edges(seed, KERNEL_VERTICES)

    def load(self, spark, inp, work: str) -> dict:
        edges = _load(spark, inp.frame(), os.path.join(work, "edges"))
        return {"edges": edges}

    def run(self, spark, state, ops, tracer) -> dict:
        edges = state["edges"]
        out: dict = {}
        calls = [
            ("pagerank", lambda m: pagerank(
                spark, edges, tol=-1.0, max_iter=PAGERANK_ITERS,
                metrics=m).toPandas()),
            ("cc", lambda m: connected_components(
                spark, edges, metrics=m).toPandas()),
            ("lpa", lambda m: label_propagation(
                spark, edges, max_iter=LPA_ITERS, metrics=m).toPandas()),
            ("triangles", lambda m: triangle_count(spark, edges, metrics=m)),
        ]
        for name, fn in calls:
            m = MetricsCollector()
            got, sec, ok = ops.call(tracer, name, lambda: fn(m),
                                    lambda: {"rows": len(m.rows)})
            out.update(_iter_layers(name, m.rows, sec))
            if ok:
                out[name] = got
        if "triangles" in out:
            out["triangles.count"] = out["triangles"]
        return out

    def collect(self, out: dict) -> None:
        for name, col in (("pagerank", "rank"), ("cc", "component"),
                          ("lpa", "label")):
            if name in out:
                out[name] = _frame_np(out[name], "id", col)

    def reference(self, inp) -> dict:
        s, d, w, nv = inp.src, inp.dst, inp.weight, inp.nv
        return {
            "edges": inp,
            "pagerank": simple_ref.pagerank_ref(s, d, w, nv, tol=-1.0,
                                                max_iter=PAGERANK_ITERS),
            "cc": simple_ref.connected_components_ref(s, d, nv),
            "lpa": simple_ref.lpa_ref(s, d, w, nv, max_iter=LPA_ITERS),
            "triangles": simple_ref.triangles_ref(s, d, nv)[1],
            "shape": {"rows": len(s)},
        }

    def check(self, out: dict, ref: dict, ops: OpLog) -> None:
        for name, atol in (("pagerank", 1e-6), ("cc", 0.0), ("lpa", 0.0)):
            if name in out:
                err = check.same_values(*out[name], ref[name], name, atol)
                if err:
                    ops.fail(name, err)
        if "triangles" in out and out["triangles"] != ref["triangles"]:
            ops.fail("triangles", f"{out['triangles']} triangles, "
                     f"expected {ref['triangles']}")

    def quality(self, out: dict, ref: dict) -> float:
        """Modularity of the label-propagation communities."""
        if "lpa" not in out:
            return 0.0
        ids, lab = out["lpa"]
        comm = np.empty(ref["edges"].nv, np.int64)
        comm[ids] = lab
        return check.modularity(ref["edges"], check.canonical(comm))


class SimulatedCrash(RuntimeError):
    pass


class CrashAfter(MetricsCollector):
    """Metrics object that raises after ``n`` supersteps: a simulated crash
    in the middle of a checkpointed Louvain run."""

    def __init__(self, n: int):
        super().__init__()
        self.n = n

    def record(self, **kw):
        out = super().record(**kw)
        if kw.get("kind") == "superstep" and sum(
                r.get("kind") == "superstep" for r in self.rows) >= self.n:
            raise SimulatedCrash(f"simulated crash after {self.n} supersteps")
        return out


class CheckpointResume(Workload):
    """Checkpointed Louvain crashes, resumes to convergence, then a
    checkpointed connected components run."""

    name = "checkpoint_resume"

    def generate(self, seed: int):
        """The co-occurrence graph of a small repos table, derived in
        NumPy (derive is measured on repo_louvain): fork families that
        share every family path and nothing else, so the checkpointed
        run converges in few supersteps. No ubiquitous paths: at this
        size they stay under the key cap and would join every repository
        into one clique."""
        return check.derive_ref(gen.repos_table(
            seed, CKPT_REPOS, family_keep=1.0, vendor_per_repo=0.0,
            ubiquitous_keep=0.0))

    def load(self, spark, inp, work: str) -> dict:
        edges = _load(spark, inp.frame(), os.path.join(work, "edges"))
        return {"edges": edges, "work": work}

    def run(self, spark, state, ops, tracer) -> dict:
        edges = state["edges"]
        ck = os.path.join(state["work"], "ckpt")
        ck_cc = os.path.join(state["work"], "ckpt_cc")
        for d in (ck, ck_cc):
            shutil.rmtree(d, ignore_errors=True)
        out: dict = {}
        crash = CrashAfter(CRASH_AFTER)

        def crash_run():
            try:
                louvain(spark, edges, EngineConfig(checkpoint_dir=ck),
                        metrics=crash)
            except SimulatedCrash:
                return True
            raise RuntimeError("run converged before the simulated crash")

        def ckpt_counts():
            b, f = dir_usage(ck)
            return {"bytes": b, "files": f}

        _, out["crash_run.s"], _ = ops.call(tracer, "crash_run", crash_run,
                                            ckpt_counts)
        m = MetricsCollector()

        def resume():
            res = louvain(spark, edges, EngineConfig(checkpoint_dir=ck),
                          metrics=m, resume=True)
            return res, res.labels.toPandas()

        got, out["resume.s"], ok = ops.call(tracer, "resume", resume,
                                            ckpt_counts)
        out["resume.supersteps"] = sum(r.get("kind") == "superstep"
                                       for r in m.rows)
        out.update(louvain_layers(crash.rows + m.rows,
                                  out["crash_run.s"] + out["resume.s"]))
        if ok:
            res, labels = got
            out["labels"] = _frame_np(labels, "id", "comm")
            out["q"] = res.final_q
            out["louvain.levels"] = res.levels
        mc = MetricsCollector()
        got, out["cc_ckpt.s"], ok = ops.call(
            tracer, "cc_ckpt",
            lambda: connected_components(
                spark, edges, cfg=EngineConfig(checkpoint_dir=ck_cc),
                metrics=mc).toPandas(),
            lambda: dict(zip(("bytes", "files"), dir_usage(ck_cc))))
        if ok:
            out["cc"] = got
        b1, f1 = dir_usage(ck)
        b2, f2 = dir_usage(ck_cc)
        out["checkpoint.bytes"] = b1 + b2
        out["checkpoint.files"] = f1 + f2
        steps = out["louvain.supersteps"] + sum(
            r.get("kind") == "cc_superstep" for r in mc.rows)
        out["checkpoint.bytes_per_superstep"] = ((b1 + b2) / steps
                                                 if steps else 0)
        return out

    def collect(self, out: dict) -> None:
        if "cc" in out:
            out["cc"] = _frame_np(out["cc"], "id", "component")

    def reference(self, edges) -> dict:
        return {"edges": edges, "louvain": check.louvain_reference(edges),
                "cc": simple_ref.connected_components_ref(
                    edges.src, edges.dst, edges.nv),
                "shape": {"rows": len(edges.src)}}

    def check_setup(self, spark, state, ref, ops, tracer) -> None:
        """The uncrashed run that resumed labels are compared with: the
        same Louvain, no checkpoint dir, no crash."""
        got, _, ok = ops.call(
            tracer, "uncrashed",
            lambda: louvain(spark, state["edges"]).labels.toPandas())
        if ok:
            ref["uncrashed"] = _frame_np(got, "id", "comm")

    def check(self, out: dict, ref: dict, ops: OpLog) -> None:
        if "labels" in out:
            err = check.same_louvain(*out["labels"], out["q"], ref["louvain"])
            if not err and "uncrashed" in ref:
                ids, lab = ref["uncrashed"]
                full = np.full(ref["edges"].nv, -1, np.int64)
                full[ids] = lab
                err = check.same_partition(*out["labels"], full)
                err = err and f"against the uncrashed run: {err}"
            if err:
                ops.fail("resume", err)
        if "cc" in out:
            ids, comp = out["cc"]
            if not np.array_equal(np.sort(ids), np.unique(ref["edges"].src)):
                ops.fail("cc_ckpt", f"{len(ids)} vertices, expected "
                         f"{len(np.unique(ref['edges'].src))}")
            elif (comp != ref["cc"][ids]).any():
                ops.fail("cc_ckpt", "components differ from simple_ref")



WORKLOADS = {w.name: w for w in (RepoLouvain(), KernelSuite(),
                                 CheckpointResume())}
