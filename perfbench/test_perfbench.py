"""Tests of the benchmark's own parts: the seeded generator, the event-log
fold and the agreement of ``BENCHMARK.json`` with ``run.py``.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest

import eventlog
import gen
import run
from wallet_and_risky_features_data_pipeline_spark.sources.readers import DEFAULT_SF_DIR

SF01_EVENTS = os.path.join(DEFAULT_SF_DIR, "events.parquet")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(tmp_path, name, seed, events=2_000, wallets=150):
    path = gen.write_events(gen.make_events(seed, events, wallets), str(tmp_path / name))
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_same_bytes(tmp_path):
    assert _write(tmp_path, "a", 7) == _write(tmp_path, "b", 7)


def test_other_seed_other_bytes(tmp_path):
    assert _write(tmp_path, "a", 7) != _write(tmp_path, "b", 8)


def _shape(con, path):
    n, wallets, receivers = con.execute(
        f"SELECT count(*), count(DISTINCT user_id), "
        f"count(DISTINCT json_extract_string(props, '$.k')) FROM '{path}'"
    ).fetchone()
    mix = dict(con.execute(
        f"SELECT event_type, count(*) / {n} FROM '{path}' GROUP BY 1"
    ).fetchall())
    return n, wallets, receivers / wallets, mix


@pytest.mark.skipif(not os.path.exists(SF01_EVENTS), reason="sf0.1 test data absent")
def test_sf01_shape_matches_test_data(tmp_path):
    con = duckdb.connect()
    ref_n, ref_wallets, ref_share, ref_mix = _shape(con, SF01_EVENTS)
    path = gen.write_events(gen.make_events(3, ref_n, ref_wallets), str(tmp_path))
    n, wallets, share, mix = _shape(con, path)
    assert (n, wallets) == (ref_n, ref_wallets)
    assert share == ref_share
    assert mix.keys() == ref_mix.keys()
    for event_type, p in mix.items():
        assert abs(p - ref_mix[event_type]) < 0.01, event_type


def test_receivers_scale_with_wallets():
    table = gen.make_events(5, 50_000, 15_000)
    k = {json.loads(p)["k"] for p in table.column("props").to_pylist()}
    assert min(k) == 0 and max(k) == 999


def test_split_is_a_time_prefix():
    table = gen.make_events(5, 1_000, 150)
    base = gen.split_at(table, 0.99)
    assert base.num_rows == 990
    assert base.column("ts").to_pylist() == table.column("ts").to_pylist()[:990]


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def _task(stage, records, shuffle_records, run_ms, shuffle_bytes=0, spill=0):
    return _event(
        "SparkListenerTaskEnd",
        **{"Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Records Read": records},
            "Shuffle Read Metrics": {"Total Records Read": shuffle_records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        }},
    )


def test_fold_attributes_tasks_by_job_group(tmp_path):
    group = {"Properties": {"spark.jobGroup.id": "q:a"}}
    other = {"Properties": {"spark.jobGroup.id": "warmup:q.a"}}
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    (roll / "events_1_app").write_text(
        _event("SparkListenerJobStart", **group)
        + _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}, **group)
        + _event("SparkListenerJobStart", **other)
        + _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}, **other)
        + _task(1, 10, 0, 1500, shuffle_bytes=2 * eventlog.MIB)
        + _task(1, 0, 0, 500, spill=eventlog.MIB)
        + _task(2, 10, 0, 9000)
    )
    (roll / "appstatus_app").write_text("")
    spans = [{"span": "q.a", "group": "q:a", "s": 1.0}]
    c = eventlog.fold(str(tmp_path), spans, cores=4)["q.a"]
    assert c == {
        "s": 1.0, "jobs": 1, "tasks": 2, "empty_task_share": 0.5,
        "shuffle_write_mb": 2.0, "spill_mb": 1.0, "core_busy_share": 0.5,
    }


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert len(spec["per_layer"]) <= 128
