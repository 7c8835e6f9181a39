"""Shared benchmark machinery: statistics, the closed loop, the Spark
session lifecycle and the process-tree memory sampler.

Nothing here imports pyspark at module level, so the arithmetic can be
unit-tested without a JVM (``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import threading
import time

# --------------------------------------------------------------- statistics

#: a tail percentile is reported only with this many samples beyond it
TAIL_MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), q) - 1]


def tail_percentile(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile with ``TAIL_MIN_BEYOND`` samples
    strictly beyond its nearest rank, or None when even p50 lacks them."""
    for q in candidates:
        if n - _rank(n, q) >= TAIL_MIN_BEYOND:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, the highest supported tail percentile, and the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    q = tail_percentile(len(values))
    if q is not None and q > 50:
        out[f"p{q:g}"] = percentile(values, q)
    return out


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall


def neighbour_quality(approx: dict, exact: dict) -> tuple[int, int, int]:
    """(hits, returned, wanted) of approximate neighbour sets against
    exact ones, per query id; a query missing from ``approx`` returned
    nothing."""
    hits = returned = wanted = 0
    for qid, want in exact.items():
        got = approx.get(qid, set())
        hits += len(got & want)
        returned += len(got)
        wanted += len(want)
    return hits, returned, wanted


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ seeds

#: the synth generators seed numpy ``RandomState``s, which take only
#: 0 <= seed < 2**32; the text corpus seeds one with ``seed * 7 + 31``
SEED_SPACE = 2**29


def data_seed(seed: int) -> int:
    """The generator seed for a benchmark ``--seed``: any integer maps
    to one every synth generator accepts, and a small seed to itself."""
    return seed % SEED_SPACE


# ------------------------------------------------------------ closed loop


class Outcome:
    """Counts every operation a run attempts and every one that fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def closed_loop(seconds: float, op, min_ops: int = 1) -> list:
    """Run ``op(i)`` back to back, one client: the next call starts when
    the previous returns, until ``seconds`` have elapsed and at least
    ``min_ops`` calls have finished.  Returns the calls' results."""
    results = []
    t0 = time.perf_counter()
    while len(results) < min_ops or time.perf_counter() - t0 < seconds:
        results.append(op(len(results)))
    return results


#: loop operations in a traced run: one untraced, one traced.  A traced
#: run also profiles the other workload's layers and must end within the
#: run time limit, so it gets no more.
TRACED_MIN_OPS = 2


def traced_op(i: int) -> bool:
    """Whether loop operation ``i`` of a traced run is traced: untraced,
    traced, traced, untraced, repeating, so neither side always runs
    first and the warm-up's tail does not fall on one side."""
    return i % 4 in (1, 2)


# ------------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _pss(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among its sharers, so a forked child (a Python worker forked by the
    worker daemon) does not count its parent's pages again."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_pss(root: int) -> dict[int, int]:
    """PSS of ``root`` and of every descendant (driver JVM and Python
    workers), by pid, read from /proc.  A child of the JVM that still runs
    the JVM's binary is a spawn caught before its exec (Hadoop's local file
    system runs ``chmod`` and ``rm`` that way): it shares the JVM's address
    space, so its PSS would count the whole JVM again, and it is skipped."""
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        if pid in out:
            continue
        exe = _exe(pid)
        if exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            out[pid] = _pss(pid)
        except OSError:
            continue
        todo.extend((c, exe) for c in _children(pid))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class MemSampler:
    """Background sampler of the process tree's total PSS: ``peak_mb`` is
    the largest total seen between ``start`` and ``stop``, ``peak_parts``
    its split by process name.  One read of a 2 GB JVM's ``smaps_rollup``
    costs about 30 ms of CPU, so sampling once a second keeps the sampler
    near 3% of one core."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            # a JVM thread between fork and exec carries the thread's name;
            # its pages are the JVM's, read at a different instant
            mem = {p: (_comm(p), b) for p, b in tree_pss(pid).items()}
            mem = {p: (name, b) for p, (name, b) in mem.items()
                   if p == pid or name == "java" or name.startswith("python")}
            total = sum(b for _, b in mem.values())
            if total > self.peak:
                self.peak = total
                parts: dict[str, float] = {}
                for p, (name, b) in mem.items():
                    key = "driver" if p == pid else name
                    parts[key] = parts.get(key, 0.0) + b / 2**20
                self.peak_parts = parts
            self._stop.wait(self.interval_s)

    def start(self) -> "MemSampler":
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ------------------------------------------------------------------- Spark


DRIVER_HEAP = "1536m"


def start_spark(cpus: int, work_dir: str, event_log_dir: str | None = None):
    """``local[cpus]`` session with every scratch path inside ``work_dir``."""
    from imgfact_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a pre-touched fixed heap: the JVM's resident size is the same on
        # every run, so peak memory moves with what the code holds outside
        # it (Python workers, Arrow and netty buffers, metaspace)
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def repeated_setup(make, work_dir: str, reps: int):
    """Build the inputs ``reps`` times, each into a fresh directory, and
    keep the last; ``make(root)`` returns an object with a ``root``.
    Returns (inputs, per-rep seconds)."""
    data, times = None, []
    for rep in range(reps):
        if data is not None:
            shutil.rmtree(data.root, ignore_errors=True)
        t0 = time.perf_counter()
        data = make(os.path.join(work_dir, f"input{rep}"))
        times.append(time.perf_counter() - t0)
    return data, times
