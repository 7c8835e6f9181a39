#!/usr/bin/env python3
"""Benchmark entry point for the imgfact_spark KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the repository root.  Starts ``local[nproc]`` Spark in this
process, builds the workload's inputs from ``--seed``, measures a closed
loop (one client) for ``--seconds``, checks the outputs and prints, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``:
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.  The line before it carries the
detail: sample counts, percentiles, per-rep set-up times and any errors.
Every scratch file lives under ``.bench_run/`` and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kg_build", "corpus_curation")


class Ctx:
    """What a workload needs from the run: the session, its arguments,
    the tracer, and the places results go."""

    def __init__(self, args, work: str, cores: int) -> None:
        from perfbench.harness import Outcome, data_seed

        self.seed = data_seed(args.seed)
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = cores
        self.spark = None
        self.tracer = None
        self.start_s = 0.0
        self.detail: dict = {}
        self.after_stop: list = []  # callbacks given the folded event log
        self.outcome = Outcome()


def _isolate(work: str) -> None:
    """Keep every scratch path inside ``work`` and make the repository
    importable by Spark's Python workers; pin BLAS to one thread so numpy
    kernels do not oversubscribe the cores Spark already uses."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # every JVM (the launcher too): temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tempfile.tempdir = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "imgfact_spark")) or not os.path.isfile(spec_path):
        print(f"perfbench: needs the imgfact_spark package and BENCHMARK.json in {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)

    from perfbench import eventlog, harness
    from perfbench.trace import Tracer

    if args.workload == "kg_build":
        from perfbench import kg as workload
    else:
        from perfbench import curation as workload

    ctx = Ctx(args, work, cores)
    sampler = harness.MemSampler().start()
    result = None
    try:
        ev_dir = os.path.join(work, "events") if ctx.trace else None
        if ev_dir:
            os.makedirs(ev_dir)
        t0 = time.perf_counter()
        ctx.spark = harness.start_spark(cores, work, ev_dir)
        ctx.start_s = time.perf_counter() - t0
        ctx.tracer = Tracer(ctx.spark.sparkContext)
        try:
            result = workload.run(ctx)
        finally:
            ctx.tracer.restore()
            harness.stop_spark(ctx.spark)
            sampler.stop()
        if ev_dir:
            log = eventlog.fold(eventlog.read_events(ev_dir))
            for fold in ctx.after_stop:
                fold(log)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if ctx.trace:
        values = {"session.start_s": ctx.start_s, **result["per_layer"]}
        wanted = spec["per_layer"]
    else:
        values = {**result["end_to_end"], "peak_pss_mb": sampler.peak_mb}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    out = ctx.outcome
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "data_seed": ctx.seed,
                                 "cores": cores, **ctx.detail, "peak_pss_parts_mb": sampler.peak_parts,
                                 "errors": out.errors[:20]}},
                     default=str))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
