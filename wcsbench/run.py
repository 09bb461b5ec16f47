"""Benchmark entry point.

    python3 wcsbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts one ``local[nproc]`` Spark session,
generates the workload's inputs from ``--seed``, computes their reference
outputs and warms up (together ``setup_s``), then runs the workload's
operation in a closed loop until the timed operations add up to
``--seconds``. Every output is checked against the repo's independent
references outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop for half as long with Spark's event log on, then one operation under
job-group spans and the workload's layer probes, folds the event log onto
the spans and prints the per-layer metrics. All scratch lives under ``.bench_tmp/`` in
the checkout and is removed at exit; a traced run leaves its spans and
fold in ``.bench_out/``.

The last line of stdout is one JSON object:
``{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}``.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
#: what the benchmark imports from the checkout besides its own directory
REQUIRED = ("wikicrawler_spark/kernel.py", "tests/oracle_extractor.py",
            "scripts/driver_mimic.py")

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
                    "peak_rss_mb": "MB"}


def per_layer_registry() -> list[dict]:
    with open(os.path.join(HERE, "registry.json"), encoding="utf-8") as f:
        return json.load(f)["per_layer"]


class Run:
    """State of one benchmark process, passed to the workload."""

    def __init__(self, args, tmp_root: str):
        self.seed = args.seed
        self.profile = args.size
        self.tmp_root = tmp_root
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.tmp_root, "work", f"{prefix}-{self._dirs:04d}")

    def record(self, error: str | None) -> None:
        """Count one checked operation; ``error`` is None when it passed."""
        self.attempted += 1
        if error is not None:
            self.failed += 1
            print(f"check failed: {error}", file=sys.stderr, flush=True)


def measure(run: Run, workload, seconds: float) -> tuple[list[float], float]:
    """Closed loop until the timed operations add up to ``seconds``:
    (per-operation walls, median over operations of the peak PSS of the
    JVM tree during each operation, in MB)."""
    from procs import PeakPss

    from session import jvm_pid

    walls: list[float] = []
    peaks: list[tuple[float, float]] = []
    busy = 0.0
    with PeakPss(jvm_pid(run.spark)) as mem:
        while busy < seconds:
            mem.take()
            t0 = time.monotonic()
            try:
                out = workload.op()
            except Exception:  # a failed operation counts; the loop goes on
                busy += time.monotonic() - t0
                traceback.print_exc()
                run.record("operation raised")
                continue
            wall = time.monotonic() - t0
            peaks.append(mem.take())
            busy += wall
            walls.append(wall)
            run.record(workload.check(out))
    if not walls:
        raise RuntimeError("every operation failed")
    print("operation walls (s): " + " ".join(f"{w:.3f}" for w in walls)
          + "; peak PSS (MB, JVM share): "
          + " ".join(f"{t:.0f}/{j:.0f}" for t, j in peaks),
          file=sys.stderr, flush=True)
    return walls, statistics.median(t for t, _ in peaks)


def scaling_pass(run: Run, workload, docs_per_s: float) -> dict:
    """fused docs/s at local[1] in a JVM of its own, against this run's
    local[nproc] wall."""
    out = run.fresh_dir("scaling-out")
    tmp = os.path.join(run.tmp_root, "scaling")
    os.makedirs(tmp)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "scaling.py"), workload.corpus, tmp, out],
        check=True, stdout=subprocess.PIPE, text=True, timeout=150)
    local1 = workload.units / json.loads(proc.stdout.strip().splitlines()[-1])["wall_s"]
    run.record(workload.check(out))
    return {"scaling.local1_docs_per_s": local1,
            "scaling.efficiency": docs_per_s / local1 / run.cores}


def traced_metrics(args, run: Run, workload, tracer, op_spans: list[str],
                   layers: dict, wall_s: float, docs_per_s: float) -> dict:
    """Fold the event log onto the spans and assemble every per-layer
    metric; a layer this workload bypasses reads 0."""
    import session
    from eventlog import fold, read_events

    folded = fold(read_events(session.event_log_path(run.tmp_root)), tracer.spans)
    for name, row in folded.items():
        if not name.endswith(".build"):  # a plan build may run no job
            run.record(None if row["tasks"] else f"span {name} ran no tasks")
    registry = per_layer_registry()
    for entry in registry:
        if entry["layer"] == "spark":
            # spark.python.run_s is the fold's python_run_s, and so on
            field = entry["name"][len("spark."):].replace(".", "_")
            rows = [folded[s][field] for s in op_spans]
            layers[entry["name"]] = max(rows) if field == "task_skew" else sum(rows)
    layers["trace.overhead_ratio"] = sum(tracer.wall_s(s) for s in op_spans) / wall_s
    layers.update(workload.folded_layers(folded, layers))
    if args.workload == "extract_bulk":
        layers.update(scaling_pass(run, workload, docs_per_s))
    out_dir = os.path.join(CHECKOUT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
              "w", encoding="utf-8") as f:
        json.dump({"spans": tracer.spans, "fold": folded}, f, indent=1)
    metrics = {}
    for e in registry:
        value = layers[e["name"]] if e["workload"] in (args.workload, "all") else 0
        metrics[e["name"]] = {"value": value, "unit": e["unit"]}
    return metrics


def benchmark(args, tmp_root: str) -> dict:
    import session
    from spans import Tracer
    from workloads import WORKLOADS

    run = Run(args, tmp_root)
    session.prepare_env(CHECKOUT, tmp_root)
    t0 = time.monotonic()
    run.spark = session.start(tmp_root, run.cores, event_log=bool(args.trace))
    try:
        workload = WORKLOADS[args.workload](run)
        workload.setup()
        setup_s = time.monotonic() - t0
        # a traced run has the layer probes still to do: half the window
        # keeps it well inside its time limit
        walls, peak_mb = measure(run, workload, args.seconds / (2 if args.trace else 1))
        wall_s = statistics.median(walls)
        docs_per_s = workload.units / wall_s
        if args.trace:
            tracer = Tracer(run.spark.sparkContext)
            op_spans = workload.traced_op(tracer)
            layers = workload.probe_layers(tracer)
    finally:
        session.stop(run.spark)

    if args.trace:
        metrics = traced_metrics(args, run, workload, tracer, op_spans, layers,
                                 wall_s, docs_per_s)
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "docs_per_s": docs_per_s, "peak_rss_mb": peak_mb}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("extract_bulk", "curate_queries"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "tiny"), default="full",
                        help="input sizes; 'tiny' is for the smoke test")
    args = parser.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(CHECKOUT, p))]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    # turn a termination request into SystemExit so cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_parent = os.path.join(CHECKOUT, ".bench_tmp")
    tmp_root = os.path.join(tmp_parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp_root)
    try:
        result = benchmark(args, tmp_root)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
