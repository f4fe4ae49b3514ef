"""Program process of one benchmark run: drives the library through its
public API and writes a result JSON. Started by ``run.py``, never by hand.

Order: set-up (fresh session + first job, several times), one untimed
warm-up iteration, ``--seconds`` / ITERATION_S timed iterations (at least
one), and, when traced, the lazy-chain prefixes through the ``noop`` sink.
Output checks run between iterations, outside the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
import traceback

from tracing import NullTracer, Tracer
from workloads import WORKLOADS

SETUP_REPS = 3
#: seconds of one warm iteration of either workload on a 4-core host; turns
#: --seconds into a fixed number of timed iterations
ITERATION_S = 5.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _setup(truth: dict):
    """Session start plus first job (read the input, count it), SETUP_REPS
    times; the first rep also launches the JVM. Returns the last session
    and every rep's seconds."""
    from geoparquet_io_spark.session import get_spark
    from geoparquet_io_spark.sources import geoparquet as gp

    spark, reps = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark("perfbench")
        gp.read(spark, truth["input"]).count()
        reps.append(time.perf_counter() - t)
    return spark, reps


def _checked(wl, truth: dict, out: dict | None, exc: str | None):
    if exc is not None:
        return [("iteration", False)], exc
    try:
        return wl.check(out, truth), None
    except Exception:  # noqa: BLE001 - a crashing check is a failed check
        return [("check", False)], traceback.format_exc()


def _time_prefixes(spark, wl, truth: dict, tracer) -> dict:
    """Seconds of each lazy-chain prefix run through ``noop``: prefix k
    applies steps 1..k, then materialises without writing."""
    steps = wl.chain(spark, truth)
    times = {}
    for k, (layer, _) in enumerate(steps):
        with tracer.span(f"prefix.{k}"):
            t = time.perf_counter()
            gt = None
            for _, step in steps[:k + 1]:
                gt = step(gt)
            gt.df.write.format("noop").mode("overwrite").save()
            times[layer] = time.perf_counter() - t
    return times


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--truth", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(args.truth) as fh:
        truth = json.load(fh)
    wl = WORKLOADS[args.workload]()
    res: dict = {"iterations": [], "checks": [], "errors": [], "phase_s": {}}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        """Seconds each phase of the run took, for sizing the benchmark."""
        nonlocal mark
        now = time.perf_counter()
        res["phase_s"][name] = now - mark
        mark = now

    spark, res["setup_reps"] = _setup(truth)
    phase("setup")
    gateway = spark.sparkContext._gateway
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    if args.trace:
        tracer.install()

    def one(label) -> float:
        """One iteration; records its checks, returns its seconds."""
        tracer.iteration = label
        t = time.perf_counter()
        out = exc = None
        try:
            with tracer.span("iteration"):
                out = wl.iteration(spark, truth)
        except Exception:  # noqa: BLE001 - counted as a failed operation
            exc = traceback.format_exc()
        wall = time.perf_counter() - t
        tracer.iteration = None
        checks, err = _checked(wl, truth, out, exc)
        res["checks"] += checks
        if err:
            res["errors"].append(err)
        if out and out.get("files"):
            res["out_bytes"] = sum(os.path.getsize(f) for f in out["files"])
        return wall

    one("warmup")
    phase("warmup")
    # a fixed number of timed iterations for --seconds, so every run does
    # the same work however loaded the host is
    for i in range(max(1, round(args.seconds / ITERATION_S))):
        res["iterations"].append(one(i))
    phase("timed")
    if args.trace:
        res["prefix_s"] = _time_prefixes(spark, wl, truth, tracer)
        res["spans"] = tracer.spans
        phase("prefixes")
    res["jvm_peak_rss_mb"] = _vm_hwm_mb(gateway.proc.pid)
    spark.stop()
    # the JVM exits on EOF of its stdin; wait for it so no process outlives us
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    phase("stop")
    res["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    res["checks"] = [[name, bool(ok)] for name, ok in res["checks"]]
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
