#!/usr/bin/env python3
"""Benchmark of the checkpointed extraction pipeline.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline`` (fresh checkpointed ``ExtractionPipeline.run``) and
``extract_sink`` (``extract()`` into Spark's ``noop`` sink), both over a
corpus generated from ``--seed`` (see perfbench/corpus.py), on
``local[nproc]`` with a 2g driver heap unless SPARK_GRAFT_DRIVER_MEM says
otherwise. See perfbench/workloads.py for what each run does and
perfbench/LAYERS.md for what each layer metric should move.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (docs_per_s, setup_s, peak_rss_mb); with
``--trace 1`` they are the per-layer ones. An earlier line records the
environment and the corpus. Everything the benchmark builds, caches or
writes stays under ``.perfbench/`` at the repository root; a JSON record of
each run is kept in ``.perfbench/results/`` and the spans of traced runs in
``.perfbench/traces/``. Every process a run starts (corpus workers, the
Spark JVM, its Python workers) has ended before the run exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline", "extract_sink")
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30.0


def adopt_descendants() -> None:
    """Make this process the subreaper of everything the run starts, so a
    process orphaned on the way out (a Python worker whose JVM has exited)
    is reparented here rather than to init, and can be waited for."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[tuple[int, str]]:
    """(pid, state) of each process whose parent is this one."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            out.append((int(name), fields[0]))
    return out


def stop_descendants() -> None:
    """Wait until no process started by this run is left, reaping each one
    that ends (orphans included, see adopt_descendants). Processes still
    running after STOP_GRACE_S seconds get SIGTERM, and SIGKILL 10 s later."""
    t0 = time.monotonic()
    while True:
        live = []
        for pid, state in _children():
            if state == "Z":
                try:
                    os.waitpid(pid, 0)
                except ChildProcessError:
                    pass
            else:
                live.append(pid)
        if not live:
            return
        waited = time.monotonic() - t0
        if waited > STOP_GRACE_S:
            sig = signal.SIGKILL if waited > STOP_GRACE_S + 10 else signal.SIGTERM
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark's Python workers import the engine and perfbench.probes from
    # the repository root; everything Spark and Python write goes under it
    sys.path.insert(0, ROOT)
    try:
        import docling_nlp_api_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from perfbench.workloads import run_benchmark

    adopt_descendants()
    # a terminated run still stops the JVM and waits for what it started
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        result = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    finally:
        stop_descendants()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
