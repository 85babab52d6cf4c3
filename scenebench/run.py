"""Scene-search benchmark: one seeded workload per run.

    python3 scenebench/run.py --workload serve_search --seed 1 --seconds 20 --trace 0

Prints one JSON object as the last line of stdout. With ``--trace 0``
it holds the end-to-end metrics of the untraced operations; with
``--trace 1`` every other operation is traced, spans are written to
``scenebench/.work/spans-<workload>-<seed>.jsonl`` and the per-layer
metrics are reported instead. Diagnostics go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402

WORKLOADS = ("ingest_live", "serve_search")

PER_LAYER = {
    "session.boot_s": "s",
    "media.decode_frames.s": "s",
    "media.decode_frames.frames": "count",
    "media.embed_images.s": "s",
    "media.frames_to_hashes.s": "s",
    "media.embed_query.ms": "ms",
    "lire_xml.write.s": "s",
    "lire_xml.bytes_per_frame": "B",
    "lire_xml.read.s": "s",
    "ingest.loader_transform.s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_out": "count",
    "ingest.d1_kept_ratio": "ratio",
    "ingest.d2_kept_ratio": "ratio",
    "indexfold.bootstrap.s": "s",
    "indexfold.fold.s": "s",
    "indexfold.search.ms": "ms",
    "indexfold.compact.s": "s",
    "indexfold.adds_files": "count",
    "indexfold.rows_scored_per_query": "count",
    "ivf.build.s": "s",
    "ivf.index_bytes": "B",
    "ivf.probe_ids.ms": "ms",
    "ivf.list_skew": "ratio",
    "serve.warm.s": "s",
    "serve.plan.ms": "ms",
    "serve.exec.ms": "ms",
    "serve.rows_scored_per_query": "count",
    "serve.useful_ratio": "ratio",
    "http.overhead.ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "process.peak_rss_mb": "MB",
    "process.cpu_steal_share": "ratio",
    "run.drift_ratio": "ratio",
    "run.latency_samples": "count",
    "trace.overhead_ratio": "ratio",
}


class Ctx:
    """What a workload gets: the session, its inputs, and ``drive``,
    which owns warm-up, the timed window and op bookkeeping."""

    def __init__(self, args, run: H.Run, workdir: str, cpus: int):
        self.args = args
        self.run = run
        self.workdir = workdir
        self.cpus = cpus
        self.spark = None
        self.jobs = None
        self.cycle = 1

    @contextlib.contextmanager
    def excluded(self):
        """Time spent here (input generation, oracle preparation) is
        not part of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.run.excluded_s += time.perf_counter() - t0

    def mark(self, phase: str) -> None:
        print(f"{time.perf_counter() - T_START:7.2f}s {phase}", file=sys.stderr)

    def drive(self, op, warm_round: int, warm_max_s: float, cycle: int = 1) -> None:
        """Warm ``op(i, traced)`` until its latency stops falling (that
        time counts as set-up), then run the closed loop, numbering
        operations from 0 again, in whole cycles of ``cycle`` ops until
        ``--seconds`` have passed. A traced run traces every other
        cycle. ``op`` returns (Op, problems); its own timing covers
        only the engine calls, never the oracle."""
        self.cycle = cycle
        n = H.warm_until_steady(
            lambda i: self._checked(op, i, False, record=False).latency,
            round_size=warm_round, max_seconds=warm_max_s,
        )
        self.mark(f"warm after {n} ops")
        self.run.setup_end = time.perf_counter()
        deadline = self.run.setup_end + self.args.seconds
        # a traced run needs one untraced and one traced cycle at least
        min_ops = 2 * cycle if self.run.trace.enabled else 0
        i = 0
        while i % cycle or i < min_ops or time.perf_counter() < deadline:
            traced = self.run.trace.enabled and (i // cycle) % 2 == 1
            self._checked(op, i, traced, record=True)
            i += 1
        self.mark(f"window done, {i} ops")

    def _checked(self, op, i, traced, record):
        t0 = time.perf_counter()
        try:
            o, problems = op(i, traced)
        except Exception:  # noqa: BLE001 - an engine error is a failed op
            o = H.Op(time.perf_counter() - t0, 0, False, traced)
            problems = [traceback.format_exc(limit=-3)]
        if problems:
            print(f"op {i}: {problems}", file=sys.stderr)
        if record:
            self.run.record(o, "; ".join(problems) or None)
        return o


def cycle_drift(untraced_ms: list[float], cycle: int) -> float:
    """run.drift_ratio over per-cycle medians, so a cyclic workload
    compares like operations."""
    return H.drift_ratio([statistics.median(untraced_ms[k:k + cycle])
                          for k in range(0, len(untraced_ms), cycle)])


def layer_metrics(run: H.Run, untraced_ms: list[float], traced_ms: list[float],
                  cycle: int) -> dict:
    """Median self time per layer span (one value per call), plus the
    workload's counters and the run diagnostics."""
    out = {name: 0.0 for name in PER_LAYER}
    per_span = H.self_times(run.trace.spans)
    for name, unit in PER_LAYER.items():
        key = name.rsplit(".", 1)[0]
        if key in per_span and unit in ("s", "ms"):
            scale = 1e3 if unit == "ms" else 1.0
            out[name] = statistics.median(per_span[key]) * scale
    if "http.request" in per_span:
        out["http.overhead.ms"] = statistics.median(per_span["http.request"]) * 1e3
    out.update({k: statistics.median(v) for k, v in run.samples.items()})
    out["run.drift_ratio"] = cycle_drift(untraced_ms, cycle)
    out["run.latency_samples"] = len(untraced_ms)
    if traced_ms and untraced_ms:
        out["trace.overhead_ratio"] = (
            statistics.median(traced_ms) / statistics.median(untraced_ms) - 1.0
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, H.REPO)
    if importlib.util.find_spec("shotit_worker_spark") is None:
        print(f"shotit_worker_spark is not importable from {H.REPO}", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    work_root = os.path.join(here, ".work")
    workdir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = H.configure_env(workdir)

    run = H.Run(T_START, H.Trace(args.trace == 1))
    ctx = Ctx(args, run, workdir, cpus)
    workload = importlib.import_module(args.workload)
    steal0 = H.cpu_ticks()
    try:
        with ctx.excluded():
            ctx.inputs = workload.generate(args.seed, cpus)
        ctx.mark("inputs generated")
        t = time.perf_counter()
        ctx.spark = H.boot_session(workdir, cpus)
        run.sample("session.boot_s", time.perf_counter() - t)
        ctx.mark("session up")
        if run.trace.enabled:
            ctx.jobs = H.JobCounter(ctx.spark.sparkContext)
        try:
            bytes_per_row = workload.run(run, ctx)
            rss = H.peak_rss_mb()
        finally:
            H.stop_session(ctx.spark)
            ctx.mark("session stopped")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    steal1 = H.cpu_ticks()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    untraced_ms = [o.latency * 1e3 for o in run.ops if not o.traced]
    traced_ms = [o.latency * 1e3 for o in run.ops if o.traced]
    diag = {
        "workload": args.workload, "seed": args.seed, "samples": len(untraced_ms),
        "p90_beyond": H.beyond(untraced_ms, H.percentile(untraced_ms, 90)),
        "drift_ratio": round(cycle_drift(untraced_ms, ctx.cycle), 4),
        "cpu_steal_share": round(steal, 4), "peak_rss_mb": round(rss, 1),
        "failures": (run.setup_failures + run.failures)[:5],
        "latency_ms": [round(x) for x in untraced_ms],
    }
    print("diagnostics " + json.dumps(diag), file=sys.stderr)
    if run.trace.enabled:
        os.makedirs(work_root, exist_ok=True)
        run.trace.write(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        layer = layer_metrics(run, untraced_ms, traced_ms, ctx.cycle)
        layer["process.peak_rss_mb"] = rss
        layer["process.cpu_steal_share"] = steal
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in H.end_to_end(run, bytes_per_row).items()}
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o.ok)
    correct = failed == 0 and not run.setup_failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
