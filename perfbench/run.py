"""Seeded benchmark of the nightly refresh and the wallet query surface.

Run from the repository root:

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 10 --trace 0

It starts ``child.py`` as its own process with the repository root on
``PYTHONPATH`` (one client, closed loop: every call waits for the previous
one), waits for it, and prints as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer counters of a traced pass (see ``eventlog.py``). The line before
it is the run's record: machine health, raw pass times and the numbers
that do not fit a metric. The full record, spans included, is written to
``perfbench/_work/records/``.

Workloads, metrics and their predicted movements are described in
``perfbench/README.md``.
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
SCHEMA_VERSION = 1
DEADLINE_S = 170  # the child is killed after this; a run must end within 180 s
# The driver heap, as both -Xmx and -Xms. Left to the program's default
# (at most 8 GiB, grown lazily) the driver's peak RSS ranged from 2.3 to
# 6.5 GiB between seeds, with an IQR of 0.12-0.26 of its median.
DRIVER_MEMORY = "2g"

# Files of the program the benchmark needs; without them it refuses to run.
PROGRAM_FILES = (
    "wallet_and_risky_features_data_pipeline_spark/runner.py",
    "wallet_and_risky_features_data_pipeline_spark/plans/registry.py",
    "tests/oracle_compare.py",
)

sys.path.insert(0, HERE)
from child import GRAPH_QUERIES, NIGHTLY_STEPS, WINDOW_QUERIES, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer counters (eventlog.py and child.py say how each is measured).
_UNITS = {
    "s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "empty_task_share": ("ratio", "lower"),
    "shuffle_write_mb": ("MiB", "lower"),
    "spill_mb": ("MiB", "lower"),
    "core_busy_share": ("ratio", "higher"),
    "rows": ("count", "lower"),
    "files_written": ("count", "lower"),
}
_SPARK = ("s", "jobs", "tasks", "empty_task_share", "shuffle_write_mb", "spill_mb",
          "core_busy_share")
_WRITES = _SPARK + ("rows", "files_written")
LAYER_COUNTERS = {
    **{span: (_SPARK if span == "dq" else _WRITES) for span, _, _ in NIGHTLY_STEPS},
    **{f"q.{q}": ("s", "jobs", "tasks", "empty_task_share", "shuffle_write_mb",
                  "core_busy_share") for q in GRAPH_QUERIES},
    **{f"q.{q}": ("s", "tasks", "shuffle_write_mb", "spill_mb", "core_busy_share")
       for q in WINDOW_QUERIES},
}
PER_LAYER = {
    **{f"{span}.{c}": _UNITS[c] for span, cs in LAYER_COUNTERS.items() for c in cs},
    "features.merge.write_amplification": ("rows/pair", "lower"),
    "trace_overhead_s": ("s", "lower"),
}


def _cpu_jiffies() -> list[int]:
    """The machine's cumulative CPU times (``/proc/stat``, first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _stop_group(pgid: int) -> None:
    """Stop every process left in the child's process group (the JVM and
    Python workers it started) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_child(args, cpus: str, work: str, out: str, deadline: float) -> int:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # temporary files stay in the work dir too, for the driver JVM and the
    # short-lived launcher JVM before it; a JVM writes its perf-data file to
    # the system temp dir whatever java.io.tmpdir says
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' pyspark-shell"
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--traced", str(args.trace),
        "--work", work, "--out", out,
    ]
    with open(os.path.join(work, "child.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    return -1 if rc is None else rc


def metrics_of(res: dict, trace: int) -> dict:
    if not trace:
        values = {
            "setup_s": res["setup_s"],
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    counters = res["counters"]
    values = {}
    for name in PER_LAYER:
        span, _, counter = name.rpartition(".")
        values[name] = counters.get(span, {}).get(counter, 0)  # 0: span not in workload
    merge = counters.get("features.merge")
    if merge and res["facts"]:
        values["features.merge.write_amplification"] = (
            merge["rows"] / res["facts"]["delta_pairs"]
        )
    values["trace_overhead_s"] = res["trace_overhead_s"] or 0
    return {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}


def record_of(args, res: dict, cpus: str, load_start, load_end, nproc: int) -> dict:
    passes = res["passes"]
    rec = {
        "schema_version": SCHEMA_VERSION,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # load before this run added its own
        "overloaded": load_start[0] > nproc,
        "shape": res["shape"],
        "setups_s": res["setups_s"],
        "ready_s": res["ready_s"],
        "warmup_s": res["warmup_s"],
        "settle_s": res["settle_s"],
        "pass_s_raw": [p["s"] for p in passes],
        "pass_jit_s_raw": [p["jit_s"] for p in passes],
        "pass_gc_s_raw": [p["gc_s"] for p in passes],
        "pass_cpu_s_raw": [p["cpu_s"] for p in passes],
        "error_rate": res["failed"] / res["attempted"],
        "failures": res["failures"],
    }
    facts = res["facts"]
    if facts:
        rec["backfill_s_raw"] = [p["backfill_s"] for p in passes]
        rec["refresh_s_raw"] = [p["refresh_s"] for p in passes]
        rec["store_bytes_per_input_byte"] = facts["store_bytes"] / facts["input_bytes"]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a terminated launcher still stops the child's processes (``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    nproc = os.cpu_count()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc)
    load_start, jiffies_start = _loadavg(), _cpu_jiffies()
    records = os.path.join(HERE, "_work", "records")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        rc = run_child(args, cpus, work, out, deadline)
        shutil.copy(os.path.join(work, "child.log"), os.path.join(records, f"{tag}.log"))
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: child exited with {rc}; log in {records}/{tag}.log",
                  file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    jiffies = [b - a for a, b in zip(jiffies_start, _cpu_jiffies())]
    record = record_of(args, res, cpus, load_start, _loadavg(), nproc)
    # time the hypervisor gave this machine's CPUs to others (column 8)
    record["steal_share"] = jiffies[7] / sum(jiffies) if sum(jiffies) else 0.0
    metrics = metrics_of(res, args.trace)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump({**record, "metrics": metrics, "spans": res["spans"],
                   "counters": res["counters"], "facts": res["facts"]}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
