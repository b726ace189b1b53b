"""The benchmark's own tests: metric names against BENCHMARK.json, the
spans-file schema, self-time arithmetic and seeded input generation.
None of them starts the engine.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle

import datagen
import run
import spans
from common import tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert bench["paths"] == ["perfbench"]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_per_layer_count_and_bounds():
    bench = _bench()
    assert len(run.PER_LAYER) == 83
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_every_per_layer_metric_is_reported():
    per_layer, unavailable = run._per_layer("registry", {"session.load_table_calls": 3})
    assert set(per_layer) == set(run.PER_LAYER)
    assert per_layer["session.load_table_calls"] == 3.0
    assert "session.load_table_calls" not in unavailable
    assert unavailable["stream.batches"] == "layer not exercised by registry"


def _fake_tracer():
    t = spans.Tracer(enabled=True)
    root = t.add("query", 0.0, 10.0, run_id="q")
    t.add("construct", 1.0, 3.0, parent=root, run_id="q")
    t.add("plan", 2.0, 5.0, parent=root, run_id="q")
    t.add("exec", 8.0, 9.0, parent=root, run_id="q")
    t.add("exec", 9.5, 12.0, parent=root, run_id="q")  # clipped to the parent
    return t


def test_self_time_subtracts_union_of_children():
    by_name = {s["name"]: s for s in spans.with_self_times(_fake_tracer().spans)}
    # children cover [1,5] + [8,9] + [9.5,10] = 5.5 of the parent's 10 s
    assert abs(by_name["query"]["self_s"] - 4.5) < 1e-12
    assert abs(by_name["construct"]["self_s"] - 2.0) < 1e-12


def test_trace_file_schema_is_pinned(tmp_path):
    path = tmp_path / "trace.json"
    spans.write_trace(str(path), workload="registry", seed=1, tracer=_fake_tracer(),
                      per_layer={}, unavailable={}, end_to_end={}, tracing_overhead={})
    doc = json.loads(path.read_text())
    assert tuple(doc) == spans.TRACE_FILE_KEYS
    assert doc["schema_version"] == spans.TRACE_SCHEMA_VERSION == 1
    assert all(tuple(s) == spans.SPAN_KEYS for s in doc["spans"])
    assert doc["spans"][0]["start"] == 0.0
    assert set(doc["self_time_s"]) == {"query", "construct", "plan", "exec"}


def test_nested_spans_record_parent_and_run_id():
    t = spans.Tracer(enabled=True)
    with t.span("query", run_id="q1"):
        with t.span("construct"):
            pass
    construct, query = t.spans
    assert construct["parent"] == query["id"] and construct["run_id"] == "q1"
    off = spans.Tracer(enabled=False)
    with off.span("query"):
        pass
    assert off.spans == []


def test_timed_wrapper_pickles_to_the_original():
    t = spans.Tracer(enabled=True)
    wrapped = spans._Timed(t, "x", datagen.input_digest)
    assert pickle.loads(pickle.dumps(wrapped)) is datagen.input_digest


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def digest(seed, sub):
        out = tmp_path / sub
        paths = datagen.keyed_stream_files(str(out / "k"), seed, [100, 100, 30], 50)
        json_paths, n_bad = datagen.order_json_files(str(out / "j"), seed, [400, 400, 50], 0.05)
        return datagen.input_digest(paths + json_paths), n_bad

    a, bad_a = digest(5, "a")
    assert (a, bad_a) == digest(5, "b")
    assert a != digest(6, "c")[0]
    assert bad_a > 0


def test_stream_files_are_in_event_time_order(tmp_path):
    import pyarrow.parquet as pq

    paths = datagen.keyed_stream_files(str(tmp_path), 1, [50, 50, 20, 20], 10)
    ts = [t for p in paths for t in pq.read_table(p).column("ts").to_pylist()]
    assert ts == sorted(ts)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(120)))[0] == 0.9
    assert tail_percentile(list(range(1000)))[0] == 0.99
    assert tail_percentile(list(range(30)))[0] == 0.5
