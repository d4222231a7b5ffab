"""Spark-free unit tests of the benchmark's own arithmetic and inputs.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import dml  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from rest import plan_counters, stage_counters  # noqa: E402
from spans import Span, Tracer  # noqa: E402

# ---- REST metric strings --------------------------------------------------


@pytest.mark.parametrize(
    "text, want",
    [
        ("1.5 s", 1.5),
        ("120 ms", 0.12),
        ("0 ms", 0.0),
        ("2.0 m", 120.0),
        ("1.1 h", 3960.0),
        ("6,000", 6000.0),
        ("16", 16.0),
        ("230.2 KiB", 230.2 * 1024),
        ("16.0 MiB", 16.0 * 2**20),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n2.3 s (560 ms, 574 ms, 578 ms (stage 1.0: task 4))", 2.3),
        ("total (min, med, max (stageId: taskId))\n7.0 KiB (3.5 KiB, 3.5 KiB, 3.5 KiB (stage 5.0: task 6))", 7.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n1,234 (1, 2, 3 (stage 1.0: task 1))", 1234.0),
    ],
)
def test_parse_metric(text, want):
    assert stats.parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "n/a", "1.5 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        stats.parse_metric(text)


CANNED_SQL = [
    {
        "id": 3,
        "successJobIds": [7],
        "failedJobIds": [],
        "runningJobIds": [],
        "nodes": [
            {"nodeName": "Scan parquet", "metrics": [{"name": "number of files read", "value": "16"}]},
            {"nodeName": "Exchange", "metrics": []},
            {"nodeName": "BroadcastExchange", "metrics": []},
            {"nodeName": "ReusedExchange", "metrics": []},
            {
                "nodeName": "MapInPandas",
                "metrics": [
                    {"name": "time to run Python workers", "value": "2.3 s"},
                    {"name": "time to start Python workers", "value": "1.6 s"},
                    {"name": "number of output rows", "value": "6"},
                ],
            },
            {
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "time to run Python workers", "value": "total (min, med, max (stageId: taskId))\n500 ms (100 ms, 200 ms, 200 ms (stage 2.0: task 3))"},
                    {"name": "number of output rows", "value": "1,000"},
                ],
            },
            {"nodeName": "WholeStageCodegen (1)", "metrics": [{"name": "duration", "value": "5 s"}]},
        ],
    }
]


def test_plan_counters():
    c = plan_counters(CANNED_SQL)
    assert c == {
        "exchanges": 2.0,  # reused exchanges do no work
        "scan_files": 16.0,
        "python_eval_s": pytest.approx(2.8),
        "python_rows": 1006.0,
        "python_nodes": 2.0,
    }


def test_stage_counters_skip_skipped_stages():
    stages = [
        {"status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 1500, "executorCpuTime": 10**9,
         "jvmGcTime": 100, "shuffleWriteBytes": 10, "shuffleReadBytes": 20, "memoryBytesSpilled": 1,
         "diskBytesSpilled": 2, "inputBytes": 30},
        {"status": "SKIPPED", "numCompleteTasks": 0, "executorRunTime": 99999},
    ]
    c = stage_counters(stages)
    assert c["stages"] == 1 and c["tasks"] == 4
    assert c["executor_run_s"] == pytest.approx(1.5) and c["executor_cpu_s"] == pytest.approx(1.0)
    assert c["gc_s"] == pytest.approx(0.1) and c["spill_bytes"] == 3 and c["input_bytes"] == 30


# ---- self time --------------------------------------------------------------


def test_self_time_without_children():
    assert stats.self_time(1.0, 4.0, []) == 3.0


def test_self_time_subtracts_union_of_children():
    # children overlap (2-4 and 3-5) and one sticks out past the parent
    assert stats.self_time(0.0, 10.0, [(2.0, 4.0), (3.0, 5.0), (9.0, 12.0)]) == pytest.approx(6.0)


def test_self_time_fully_covered_is_zero():
    assert stats.self_time(0.0, 1.0, [(0.0, 1.0)]) == 0.0


def test_tracer_self_times_by_name():
    t = Tracer()
    t.spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "engine.sql", 1.0, 9.0, 0, "a"),
        Span(2, "sources.sql_dml.execute", 2.0, 8.0, 1, "a"),
        Span(3, "sources.lakehouse.update_set", 3.0, 6.0, 2, "a"),
        Span(4, "engine.sql", 20.0, 21.0, None, "b"),
    ]
    assert t.self_times() == {
        "op": pytest.approx(2.0),
        "engine.sql": pytest.approx(3.0),
        "sources.sql_dml.execute": pytest.approx(3.0),
        "sources.lakehouse.update_set": pytest.approx(3.0),
    }
    assert t.durations("engine.sql") == [pytest.approx(8.0), pytest.approx(1.0)]


def test_tracer_wrap_records_nested_spans_and_unwraps():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer()
    t.wrap(Box, "outer", "outer")
    t.wrap(Box, "inner", "inner")
    assert Box().outer() == 2 and t.spans == []  # disabled: calls straight through
    t.enabled = True
    assert Box().outer() == 2
    inner, outer = t.spans
    assert (inner.name, outer.name, inner.parent, outer.parent) == ("inner", "outer", outer.id, None)
    t.unwrap_all()
    Box().outer()
    assert len(t.spans) == 2


# ---- percentiles -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want", [(1, None), (10, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)]
)
def test_highest_tail_needs_ten_samples_beyond(n, want):
    assert stats.highest_tail(n) == want


def test_latency_summary_names():
    assert set(stats.latency_summary("op", [1.0] * 20)) == {"op_p50_s"}
    assert set(stats.latency_summary("op", list(map(float, range(100))))) == {"op_p50_s", "op_p90_s"}
    assert set(stats.latency_summary("op", [1.0] * 10_000)) == {"op_p50_s", "op_p99_9_s"}
    assert stats.latency_summary("op", []) == {}


# ---- key ranges and the statement stream ---------------------------------------


def test_key_range_stays_in_domain_and_skews_to_new_keys():
    rng = np.random.default_rng(3)
    max_key, hot = 149_999, 0
    for _ in range(5000):
        width = int(rng.integers(1, 3000))
        lo, hi = dml.key_range(rng, max_key, width)
        assert 0 <= lo <= hi <= max_key and hi - lo + 1 == width
        hot += lo >= int(max_key * (1 - dml.HOT_SHARE))
    assert 0.78 < hot / 5000 < 0.85


@pytest.mark.parametrize("max_key, width", [(0, 1), (5, 100), (9, 10), (100, 95)])
def test_key_range_small_domains(max_key, width):
    rng = np.random.default_rng(0)
    for _ in range(50):
        lo, hi = dml.key_range(rng, max_key, width)
        assert 0 <= lo <= hi <= max_key


def test_stream_is_seeded_and_appends_new_keys_above_the_domain():
    def texts(seed):
        s = dml.Stream(seed, 150_000)
        out = []
        for _ in range(3):
            for st in s.cycle():
                out.append((st.kind, st.sql, st.lo, st.hi, st.back, st.rows and st.rows.to_pylist()))
        return out, s

    a, s = texts(5)
    b, _ = texts(5)
    c, _ = texts(6)
    assert a == b and a != c
    assert s.max_key == 149_999 + 3 * (dml.MERGE_NEW + dml.INSERT_ROWS)
    inserted = [r["o_orderkey"] for *_, rows in a if rows for r in rows]
    assert len(inserted) == len(set(inserted))


def test_replay_merge_is_update_then_insert_missing(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path / "orders.parquet")
    base = gen.make_tables(1)["orders"]
    pq.write_table(base, tmp)
    r = dml.Replay(duckdb.connect(), tmp)
    n0 = r.totals[0][0]
    src = pa.table(
        {
            "o_orderkey": pa.array([0, 1, 150_000], pa.int64()),
            "o_custkey": pa.array([1, 2, 3], pa.int64()),
            "o_orderstatus": ["F", "F", "O"],
            "o_totalprice": [1.25, 2.5, 3.75],
            "o_orderdate": pa.array([0, 0, 0], pa.timestamp("us")),
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    )
    touched = r.apply(dml.Stmt("merge", "", rows=src))
    assert touched == 3 and r.totals[-1][0] == n0 + 1
    cols, rows = r.query("SELECT o_totalprice, o_custkey FROM orders WHERE o_orderkey IN (0, 150000) ORDER BY 1")
    assert rows == [(1.25, base["o_custkey"][0].as_py()), (3.75, 3)]
    assert r.expected(dml.Stmt("as_of", back=1)) == (["n", "cents"], [r.totals[0]])


# ---- generated inputs --------------------------------------------------------------


def test_generator_is_seeded_and_matches_fixture_shapes():
    full, again, other = gen.make_tables(4), gen.make_tables(4), gen.make_tables(5)
    assert all(full[t].equals(again[t]) for t in full)
    assert not full["lineitem"].equals(other["lineitem"])
    assert {t: len(v) for t, v in full.items()} == gen.ROWS
    docs = full["documents"].to_pydict()
    assert min(len(t.split(" ")) for t in docs["text"]) >= 10
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert sum(t.endswith(" dup") for t in docs["text"]) == 250
    assert len(set(docs["text"])) == 5000 - 8
    keys = full["orders"]["o_orderkey"].to_pylist()
    assert keys == list(range(150_000))


def test_dataset_cache_is_keyed_on_the_generator(tmp_path):
    fp = gen.fingerprint()
    assert len(fp) == 12 and fp == gen.fingerprint()
    cached = tmp_path / f"seed7-sf0.1-{fp}"
    cached.mkdir()
    (tmp_path / "seed7-sf0.1-000000000000").mkdir()  # another generator's
    assert gen.write_dataset(7, str(tmp_path)) == str(cached)


# ---- traced-run plans ------------------------------------------------------------


def test_trace_plans_alternate():
    import workloads

    q = workloads.make("llm_curation")
    n = len(q.queries)
    plan = [[q.traced(p, i) for i in range(n)] for p in range(q.trace_passes)]
    # each query once traced and once untraced, the traced one first for
    # every other query
    assert all(plan[0][i] != plan[1][i] for i in range(n))
    assert [plan[0][i] for i in range(n)] == [i % 2 == 0 for i in range(n)]
    d = workloads.make("lakehouse_dml")
    assert [d.traced(p, 0) for p in range(d.trace_passes)] == [False, True, True, False]


# ---- BENCHMARK.json agrees with the runner ---------------------------------------------


def test_benchmark_json_matches_runner():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]
