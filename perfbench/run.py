"""GeoParquet workload benchmark for geoparquet_io_spark.

    python3 perfbench/run.py --workload etl_polygons --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The benchmark process makes the
inputs and their expected results from ``--seed`` (numpy/pyarrow only),
then starts the program process (``worker.py``), which drives the library
through its public API on ``local[nproc]`` and checks every output. The
last stdout line is the result JSON: end-to-end metrics with ``--trace 0``;
with ``--trace 1`` an untraced and a traced program process run back to
back and the per-layer metrics come from the traced one's spans and Spark
event log. Exits non-zero, without a result line, outside a checkout or
when a run does not finish; exits 1 after the result line when an output
check failed. See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import layer_metrics, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: the whole run, both program processes included, ends inside this
DEADLINE_S = 170
#: driver heap for the program process: small inputs, shared host
DRIVER_MEM = "2g"
NPROC = len(os.sched_getaffinity(0))


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python daemon moves to a
    process group of its own, so the session is what ties it to us."""
    pids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(stat.split("/")[2]))
    return pids


def _reap(sid: int) -> None:
    """Stop whatever the program process left in its session (the JVM,
    Python workers) and wait until all of it has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        end = time.monotonic() + 20
        while time.monotonic() < end:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} did not exit")


def _program(root: str, work: str, args, traced: bool, deadline: float) -> dict:
    """Run one program process; returns its result JSON."""
    tag = "traced" if traced else "plain"
    tmp = os.path.join(work, tag, "tmp")
    events = os.path.join(work, tag, "events")
    for d in (tmp, events):
        os.makedirs(d)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
               SPARK_GRAFT_CPUS=str(NPROC),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(work, tag, "local"),
               TMPDIR=tmp)
    out = os.path.join(work, tag, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--truth", os.path.join(work, "truth.json"),
           "--seconds", str(args.seconds), "--trace", str(int(traced)), "--out", out]
    with open(os.path.join(work, tag, "stderr.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        finally:
            _reap(proc.pid)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"{tag} program process failed (exit {proc.returncode}); "
                           f"see {os.path.join(work, tag, 'stderr.log')}")
    with open(out) as fh:
        res = json.load(fh)
    if traced:
        logs = [f for f in glob.glob(os.path.join(events, "*"))
                if not f.endswith(".inprogress")]
        # the last session of the set-up reps is the one that ran the work
        res["event_log"] = max(logs, key=os.path.getmtime)
    return res


def _end_to_end(res: dict, truth: dict) -> dict:
    wall = statistics.median(res["iterations"])
    return {"setup_s": statistics.median(res["setup_reps"]),
            "wall_s": wall,
            "rows_per_s": truth["input_rows"] / wall,
            "out_bytes_per_in_byte": res.get("out_bytes", 0) / truth["input_bytes"],
            "driver_peak_rss_mb": res["driver_peak_rss_mb"]}


def _per_layer(plain: dict, traced: dict, truth: dict, wl) -> dict:
    out = layer_metrics(traced["spans"], read_event_log(traced["event_log"]),
                        traced["iterations"], traced.get("prefix_s", {}), truth,
                        NPROC, wl.sink)
    out["operators.extract.rows_out_per_row_in"] = \
        truth.get("rows_out", 0) / truth["input_rows"]
    out["trace.overhead_s"] = statistics.median(traced["iterations"]) - \
        statistics.median(plain["iterations"])
    out["session.cold_start_s"] = plain["setup_reps"][0]
    out["jvm_peak_rss_mb"] = plain["jvm_peak_rss_mb"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit so _program's finally reaps the program
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    load1 = os.getloadavg()[0]

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geoparquet_io_spark", "__init__.py")):
        print(f"perfbench: {root} is not a geoparquet_io_spark checkout "
              "(run from the repository root)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "input"))
    wl = WORKLOADS[args.workload]()
    truth = wl.prepare(args.seed, os.path.join(work, "input"))
    truth["outdir"] = os.path.join(work, "output")
    with open(os.path.join(work, "truth.json"), "w") as fh:
        json.dump(truth, fh)

    try:
        plain = _program(root, work, args, False, deadline)
        traced = _program(root, work, args, True, deadline) if args.trace else None
    except RuntimeError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 3

    if args.trace:
        values = _per_layer(plain, traced, truth, wl)
        names = spec["per_layer"]
    else:
        values = _end_to_end(plain, truth)
        names = spec["end_to_end"]
    runs = [plain] + ([traced] if traced else [])
    checks = [c for r in runs for c in r["checks"]]
    failed = sum(1 for _, ok in checks if not ok)
    for r in runs:
        for err in r["errors"]:
            print(err, file=sys.stderr)
    print(json.dumps({"run": {"workload": args.workload, "seed": args.seed,
                              "nproc": NPROC,
                              "load1": load1,
                              "iterations": [len(r["iterations"]) for r in runs],
                              "input_rows": truth["input_rows"]}}))
    print(json.dumps({"correct": failed == 0, "attempted": len(checks), "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                  for m in names}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
