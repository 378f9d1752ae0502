"""One benchmark process: set up, warm up, time passes, check outputs.

``run.py`` starts this file as its own child process with the repository
root on ``PYTHONPATH`` (the Spark driver and its Python workers import the
package from there) and reads back the JSON it writes to ``--out``.
Runner-layer output goes to the child's log, never to the launcher.

A run is, in order:

1. The seeded inputs are generated and written once, untimed.
2. ``SETUPS`` set-ups. Each (re)starts the SparkSession through the
   program's ``session.get_spark`` and reads every input once. The first
   one also starts the JVM.
3. One warm-up pass on a smaller input from the same seed, its calls run
   side by side. For ``queries`` it collects every query's result and
   compares it with the query's DuckDB oracle.
4. Timed passes, calls one after another, until ``--seconds`` have
   elapsed (at least one). With ``--traced 1`` there is exactly one, in a
   fresh SparkContext that writes the Spark event log; the cost of the
   trace is the CPU time of the thread that writes that log.
5. For ``nightly``, checks of the stores the last timed pass left.

Every call into the program is one operation and one span. It runs under
the Spark job group ``layer:<span>`` (runner layers) or ``q:<name>``
(registry queries); warm-up calls use ``warmup:<span>``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import eventlog
import gen

SETUPS = 3
BASE_SHARE = 0.99  # nightly: the backfill sees the first 99 % of events

WORKLOADS = {
    "nightly": {"events": 10_000, "wallets": 150},
    "queries": {"events": 10_000, "wallets": 150},
}
# The warm-up runs on a smaller table from the same seed: most of a cold
# pass is JIT and class loading, which does not shrink with the data.
WARMUP_SHAPE = {"events": 2_000, "wallets": 150}

GRAPH_QUERIES = (
    "wallet_pagerank",
    "wallet_components",
    "wallet_label_propagation",
    "wallet_community_modularity",
    "wallet_taint_hops",
    "wallet_peel_depth",
    "wallet_kcore",
    "wallet_wash_cycles",
)
WINDOW_QUERIES = (
    "wallet_features",
    "window_running_balance_eth",
    "wallet_flow_motifs",
    "wallet_coin_balances",
    "window_ordering",
)

# (span, runner function, input) in the order the nightly chain runs them.
NIGHTLY_STEPS = (
    ("stage.base", "run_stage", "base"),
    ("features.snapshot", "run_features", "base"),
    ("stage.delta", "run_stage", "full"),
    ("features.merge", "run_features", "full"),
    ("dq", "run_dq", "full"),
    ("serve", "run_serve", "full"),
)
BACKFILL_SPANS = ("stage.base", "features.snapshot")
# ``run_features`` reads the source events, not the staged table, and
# ``run_dq`` / ``run_serve`` need neither store, so the warm-up runs these
# lanes side by side, each in its own work dir.
WARMUP_LANES = (
    ("stage.base", "stage.delta"),
    ("features.snapshot", "features.merge"),
    ("dq", "serve"),
)

# Where a layer's output lands under the work dir, for ``rows`` and
# ``files_written``.
OUTPUT_DIRS = {
    "stage": "stage/events",
    "features": "features/contract_state",
    "serve": "serving_store",
}

# Set as JVM system properties before a traced SparkContext starts; a new
# SparkConf loads ``spark.*`` system properties the same way spark-submit
# hands over its ``--conf`` arguments.
EVENT_LOG_PROPS = ("spark.eventLog.enabled", "spark.eventLog.compress", "spark.eventLog.dir")
# The listener-bus thread that serialises and writes the event log.
EVENT_LOG_THREAD = "spark-listener-group-eventLog"


class Run:
    """State of one benchmark process: the session, its inputs and the
    ledger of operations and spans."""

    def __init__(self, workload: str, seed: int, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.work = work
        self.spark = None
        self.inputs: dict[tuple[str, str], str] = {}  # (timed|warmup, full|base)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spans: list[dict] = []
        self.lock = threading.Lock()

    # -- ledger -----------------------------------------------------------

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self._fail(what, detail or "check failed")

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {detail}"[:300])
        print(f"FAILED {what}: {detail}", flush=True)

    def op(self, group: str, span: str, pass_no: int, fn, reset: bool = True) -> dict:
        """Run one program call under a Spark job group; return its span.

        ``reset`` drops the session's memoised leg tables first, so each
        runner layer and each query pays for its own legs, as it would in
        its own process. Concurrent warm-up calls share the memo instead.
        """
        from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
            reset_session_memos,
        )

        sc = self.spark.sparkContext
        if reset:
            reset_session_memos(self.spark)
        sc.setJobGroup(group, span)
        start = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            fn()
        except Exception:
            error = traceback.format_exc()
        record = {"span": span, "group": group, "pass": pass_no, "start": start,
                  "s": time.perf_counter() - t0}
        sc.setLocalProperty("spark.jobGroup.id", None)
        with self.lock:
            self.attempted += 1
            if error:
                self._fail(span, error.strip().splitlines()[-1])
                print(error, flush=True)
            self.spans.append(record)
        return record

    # -- sessions and inputs ---------------------------------------------

    def start_session(self, event_log: str | None = None) -> None:
        """(Re)start the SparkSession; with ``event_log`` it writes a Spark
        event log into that directory."""
        from pyspark import SparkContext

        from wallet_and_risky_features_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if SparkContext._jvm is not None:
            system = SparkContext._jvm.java.lang.System
            for key in EVENT_LOG_PROPS:
                system.clearProperty(key)
            if event_log:
                os.makedirs(event_log, exist_ok=True)
                system.setProperty("spark.eventLog.enabled", "true")
                system.setProperty("spark.eventLog.compress", "false")
                system.setProperty("spark.eventLog.dir", f"file://{event_log}")
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def make_inputs(self) -> None:
        """Write the seeded inputs: the timed table and the warm-up table,
        and for ``nightly`` also their first ``BASE_SHARE`` by time."""
        for kind, shape in (("timed", WORKLOADS[self.workload]), ("warmup", WARMUP_SHAPE)):
            events = gen.make_events(self.seed, shape["events"], shape["wallets"])
            tables = {"full": events}
            if self.workload == "nightly":
                tables["base"] = gen.split_at(events, BASE_SHARE)
            for name, table in tables.items():
                d = os.path.join(self.work, "inputs", kind, name)
                gen.write_events(table, d)
                self.inputs[kind, name] = d

    def set_up(self) -> float:
        """(Re)start the session and read every input once."""
        t0 = time.perf_counter()
        self.start_session()
        for d in self.inputs.values():
            self.spark.read.parquet(f"{d}/events.parquet").count()
        return time.perf_counter() - t0

    def event_log_cpu_s(self) -> float:
        """CPU seconds the event-log writer thread has used so far, once
        every event posted until now has been written."""
        jvm = self.spark._jvm
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        for thread in jvm.java.lang.Thread.getAllStackTraces().keySet():
            if thread.getName() == EVENT_LOG_THREAD:
                return mx.getThreadCpuTime(thread.getId()) / 1e9
        raise RuntimeError(f"no {EVENT_LOG_THREAD} thread: the event log is off")

    # -- nightly ----------------------------------------------------------

    def nightly_step(self, span: str, work: str, pass_no: int) -> dict:
        from wallet_and_risky_features_data_pipeline_spark import runner

        _, fn_name, which = next(s for s in NIGHTLY_STEPS if s[0] == span)
        fn = getattr(runner, fn_name)
        warm = pass_no == 0
        sf_dir = self.inputs["warmup" if warm else "timed", which]
        out_dir = OUTPUT_DIRS.get(span.split(".")[0])
        out_dir = out_dir and os.path.join(work, out_dir)
        before = {ino for _, ino in _data_files(out_dir)} if out_dir else set()
        group = f"warmup:{span}" if warm else f"layer:{span}"
        record = self.op(group, span, pass_no, lambda: fn(self.spark, sf_dir, work),
                         reset=not warm)
        if out_dir:
            new = [p for p, ino in _data_files(out_dir) if ino not in before]
            record["files_written"] = len(new)
            record["rows"] = sum(_rows(p) for p in new)
        return record

    def nightly_pass(self, pass_no: int) -> dict:
        work = _fresh(os.path.join(self.work, f"pass{pass_no}"))
        times = {
            span: self.nightly_step(span, work, pass_no)["s"]
            for span, _, _ in NIGHTLY_STEPS
        }
        backfill = sum(times[s] for s in BACKFILL_SPANS)
        refresh = sum(t for s, t in times.items() if s not in BACKFILL_SPANS)
        return {"s": backfill + refresh, "backfill_s": backfill,
                "refresh_s": refresh, "ops": times, "work": work}

    def nightly_warmup(self) -> dict:
        def lane(i_spans):
            i, spans = i_spans
            work = _fresh(os.path.join(self.work, f"warmup{i}"))
            return {s: self.nightly_step(s, work, 0)["s"] for s in spans}

        with ThreadPoolExecutor(len(WARMUP_LANES)) as pool:
            lanes = list(pool.map(lane, enumerate(WARMUP_LANES)))
        return {k: v for times in lanes for k, v in times.items()}

    def check_nightly(self, work: str) -> dict:
        """The refreshed features store equals a from-scratch build over all
        events, and serving holds one document per wallet."""
        import duckdb
        from pyspark.sql import functions as F

        from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
            contract_state_from,
        )
        from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
            WALLET_TX_ORACLE_CTE,
            wallet_transactions,
        )
        from wallet_and_risky_features_data_pipeline_spark.sources.serving import (
            DictStoreClient,
        )
        from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
            read_store,
        )

        full = self.inputs["timed", "full"]
        what = "features store == contract_state_from(all events)"
        try:
            stored = read_store(self.spark, f"{work}/features/contract_state")
            want = contract_state_from(wallet_transactions(self.spark, full)).localCheckpoint()
            types = dict(stored.dtypes)
            a = stored.select(*[F.col(c).cast(types[c]) for c in want.columns])
            b = want.select(*[F.col(c).cast(types[c]) for c in want.columns])
            extra, lost = a.exceptAll(b).count(), b.exceptAll(a).count()
            self.check(what, extra == 0 and lost == 0,
                       f"{extra} stored rows not in the full build, {lost} missing")
        except Exception as e:  # a missing store or column is a failed check
            self.check(what, False, repr(e))

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{full}/events.parquet'")
        wallets = con.execute(
            f"WITH {WALLET_TX_ORACLE_CTE} SELECT count(DISTINCT wallet_address) FROM wallet_tx"
        ).fetchone()[0]
        base_max = con.execute(
            f"SELECT max(ts) FROM '{self.inputs['timed', 'base']}/events.parquet'"
        ).fetchone()[0]
        delta_pairs = con.execute(
            f"WITH {WALLET_TX_ORACLE_CTE} SELECT count(*) FROM (SELECT DISTINCT "
            "wallet_address, contract_address FROM wallet_tx WHERE ts > ?)",
            [base_max],
        ).fetchone()[0]
        con.close()

        uri = f"{work}/serving_store"
        docs = DictStoreClient.read_store(uri)
        lines = sum(_rows(p) for p, _ in _data_files(uri))
        self.check(
            "serving store holds one document per wallet",
            len(docs) == wallets and lines == wallets,
            f"{len(docs)} keys in {lines} documents for {wallets} wallets",
        )
        return {
            "wallets": wallets,
            "delta_pairs": delta_pairs,
            "input_bytes": os.path.getsize(f"{full}/events.parquet"),
            "store_bytes": _store_bytes(work),
        }

    # -- queries ----------------------------------------------------------

    def query_call(self, name: str, collect_with=None):
        """A call that materialises one registry query on the timed input
        through the noop sink or, given a DuckDB cursor over the warm-up
        input, collects it there and checks it against its oracle."""
        from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope
        from wallet_and_risky_features_data_pipeline_spark.plans.registry import (
            ORACLES,
            QUERIES,
        )

        def call():
            with cache_scope():
                if collect_with is None:
                    df = QUERIES[name](self.spark, self.inputs["timed", "full"])
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df = QUERIES[name](self.spark, self.inputs["warmup", "full"])
                    self.check(f"oracle {name}",
                               *_compare(df, collect_with, ORACLES[name]))

        return call

    def queries_pass(self, pass_no: int) -> dict:
        times = {
            name: self.op(f"q:{name}", f"q.{name}", pass_no, self.query_call(name))["s"]
            for name in GRAPH_QUERIES + WINDOW_QUERIES
        }
        return {"s": sum(times.values()), "ops": times}

    def queries_warmup(self) -> dict:
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{self.inputs['warmup', 'full']}/events.parquet'"
        )

        def one(name):
            cur = con.cursor()
            try:
                call = self.query_call(name, collect_with=cur)
                return name, self.op(f"warmup:q.{name}", f"q.{name}", 0, call, reset=False)["s"]
            finally:
                cur.close()

        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            times = dict(pool.map(one, GRAPH_QUERIES + WINDOW_QUERIES))
        con.close()
        return times


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _data_files(root: str) -> list[tuple[str, int]]:
    """(path, inode) of every data file under ``root``. A generation store
    hard-links the files it carries over, so they keep their inode."""
    out = []
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith((".parquet", ".jsonl")) and not n.startswith("."):
                p = os.path.join(dirpath, n)
                out.append((p, os.stat(p).st_ino))
    return out


def _rows(path: str) -> int:
    if path.endswith(".jsonl"):
        with open(path, "rb") as f:
            return sum(1 for _ in f)
    return pq.ParquetFile(path).metadata.num_rows


def _store_bytes(work: str) -> int:
    """Bytes of everything the nightly chain keeps: the staged events, the
    live generation of the features store and the serving documents."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        resolve_store,
    )

    roots = (
        f"{work}/stage/events",
        resolve_store(f"{work}/features/contract_state"),
        f"{work}/serving_store",
    )
    return sum(os.path.getsize(p) for root in roots for p, _ in _data_files(root))


def _settle_jit(compilation, cap_s: float = 15.0) -> float:
    """Wait until the JIT compilers have drained the work the warm-up
    queued: less than 0.1 s of compile time in the last 0.5 s."""
    t0 = time.perf_counter()
    last = compilation.getTotalCompilationTime()
    while time.perf_counter() - t0 < cap_s:
        time.sleep(0.5)
        now = compilation.getTotalCompilationTime()
        if now - last < 100:
            break
        last = now
    return time.perf_counter() - t0


def _group_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process group: this
    Python driver, the driver JVM (every thread: Spark tasks, JIT compilers,
    garbage collector) and the Python workers, with their reaped children.
    Unlike wall time, CPU time does not grow while the hypervisor runs other
    guests on the machine's CPUs."""
    group, total = os.getpgrp(), 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except (FileNotFoundError, ProcessLookupError):  # the process ended
            continue
        if int(fields[2]) == group:  # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python driver, in MiB."""
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _compare(df, cur, sql: str) -> tuple[bool, str]:
    """Order-insensitive comparison with the oracle, as the test suite does."""
    from tests.oracle_compare import compare

    return compare(df, cur, sql)


def main() -> int:
    ap = argparse.ArgumentParser(description="one benchmark process (see run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--traced", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t_proc = time.perf_counter()

    run = Run(args.workload, args.seed, args.work)
    nightly = args.workload == "nightly"
    run.make_inputs()
    setups = [run.set_up() for _ in range(SETUPS)]

    mf = run.spark._jvm.java.lang.management.ManagementFactory
    warm_t0 = time.perf_counter()
    warmup = run.nightly_warmup() if nightly else run.queries_warmup()
    warmup_s = time.perf_counter() - warm_t0
    settle_s = _settle_jit(mf.getCompilationMXBean())
    ready_s = time.perf_counter() - t_proc

    jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()

    def jit_gc_s():
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc / 1000

    def one_pass(n):
        cpu0, (jit0, gc0) = _group_cpu_s(), jit_gc_s()
        p = run.nightly_pass(n) if nightly else run.queries_pass(n)
        jit1, gc1 = jit_gc_s()
        p.update(cpu_s=_group_cpu_s() - cpu0, jit_s=jit1 - jit0, gc_s=gc1 - gc0)
        return p

    passes, counters, trace_overhead_s = [], {}, None
    if args.traced:
        event_log = os.path.join(args.work, "eventlog")
        run.start_session(event_log)
        passes.append(one_pass(1))
        try:
            trace_overhead_s = run.event_log_cpu_s()
        except Exception as e:  # the traced context writes no event log
            run.check("event log written", False, repr(e))
        cores = run.spark.sparkContext.defaultParallelism
        traced_spans = [s for s in run.spans if s["pass"] == 1]
    else:
        timed_t0 = time.perf_counter()
        while not passes or time.perf_counter() - timed_t0 < args.seconds:
            passes.append(one_pass(len(passes) + 1))

    facts = {}
    if nightly:
        try:
            facts = run.check_nightly(passes[-1]["work"])
        except Exception as e:  # stores a failed layer never wrote
            run.check("nightly stores readable", False, repr(e))
    peak_rss_mb = _peak_rss_mb(jvm_pid)
    run.spark.stop()  # also closes the event log
    if args.traced:
        counters = eventlog.fold(event_log, traced_spans, cores)
        # every span runs Spark jobs: none attributed means the trace is lost
        for span in traced_spans:
            run.check(f"trace attributes {span['span']}",
                      counters[span["span"]]["tasks"] > 0)

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": args.traced,
        "shape": WORKLOADS[args.workload],
        "setups_s": setups,
        "setup_s": statistics.median(setups),
        "warmup_s": warmup_s,
        "settle_s": settle_s,
        "warmup": warmup,
        "ready_s": ready_s,
        "passes": [{k: v for k, v in p.items() if k != "work"} for p in passes],
        "trace_overhead_s": trace_overhead_s,
        "peak_rss_mb": peak_rss_mb,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures,
        "spans": run.spans,
        "counters": counters,
        "facts": facts,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
