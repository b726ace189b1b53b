"""Self-adjudicating bench artifact (bench.py host markers).

r10's official number carried a uniform ~1.20x host-contamination
multiplier and clearing it required cross-run forensics; the bench now
captures /proc markers at start/end and flags a contaminated run in the
emitted JSON itself.  These tests pin (a) the marker schema, (b) the
adjudication thresholds as pure functions, and (c) that a run started
under real synthetic CPU load flags itself.
"""

from __future__ import annotations

import multiprocessing
import os
import time

import pytest

import bench


def test_host_markers_schema():
    m = bench.host_markers("start", idle_interval_s=0.1)
    assert m["phase"] == "start"
    assert set(m) == {
        "phase", "loadavg_1m", "loadavg_5m", "loadavg_15m",
        "cpu_idle_pct", "foreign_heavy_procs", "nproc",
    }
    assert m["nproc"] == os.cpu_count()
    assert m["loadavg_1m"] is None or m["loadavg_1m"] >= 0.0
    assert m["cpu_idle_pct"] is None or 0.0 <= m["cpu_idle_pct"] <= 100.0
    # pytest's own Spark JVM is a child of this process -> not foreign
    assert isinstance(m["foreign_heavy_procs"], int)


def test_adjudicate_loadavg_threshold():
    clean = {"phase": "start", "loadavg_1m": 0.3, "cpu_idle_pct": 99.0,
             "foreign_heavy_procs": 0, "nproc": 32}
    contaminated, reasons = bench.adjudicate_host(clean)
    assert not contaminated and reasons == []
    # r10's contaminated run: substantial pre-existing load
    hot = dict(clean, loadavg_1m=9.5)
    contaminated, reasons = bench.adjudicate_host(hot)
    assert contaminated and "loadavg_1m=9.5" in reasons[0]
    # threshold scales with cores: 2.0 floor on small hosts
    small_hot = dict(clean, loadavg_1m=2.5, nproc=4)
    assert bench.adjudicate_host(small_hot)[0]


def test_adjudicate_foreign_procs_and_idle():
    base = {"phase": "start", "loadavg_1m": 0.1, "cpu_idle_pct": 98.0,
            "foreign_heavy_procs": 0, "nproc": 32}
    end = {"phase": "end", "foreign_heavy_procs": 2}
    contaminated, reasons = bench.adjudicate_host(base, end)
    assert contaminated and any("end foreign_heavy_procs=2" in r for r in reasons)
    busy = dict(base, cpu_idle_pct=40.0)
    contaminated, reasons = bench.adjudicate_host(busy)
    assert contaminated and any("cpu_idle_pct=40.0" in r for r in reasons)
    # a marker where /proc scan failed (-1) must not flag
    unknown = dict(base, foreign_heavy_procs=-1)
    assert not bench.adjudicate_host(unknown)[0]


def _spin(stop_t: float) -> None:
    while time.time() < stop_t:
        pass


def test_contaminated_run_flags_itself():
    """A bench started while the host is saturated by busy-loops must
    adjudicate contaminated via the instantaneous CPU-idle sample (the
    1-minute loadavg EMA cannot react to a short burst)."""
    n = os.cpu_count() or 8
    stop_t = time.time() + 6.0
    ctx = multiprocessing.get_context("fork")
    procs = [ctx.Process(target=_spin, args=(stop_t,), daemon=True)
             for _ in range(n)]
    for p in procs:
        p.start()
    try:
        time.sleep(0.5)  # let the spinners occupy the cores
        start = bench.host_markers("start", idle_interval_s=0.5)
        contaminated, reasons = bench.adjudicate_host(start)
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            p.join(timeout=5)
    assert start["cpu_idle_pct"] is not None and start["cpu_idle_pct"] < 50.0
    assert contaminated, (start, reasons)
    assert any("cpu_idle_pct" in r for r in reasons)


def test_descendant_walk():
    """Ancestry walk that separates our Spark JVM from foreign ones."""
    me = os.getpid()
    assert bench._is_descendant_of(me, me)
    ppid = os.getppid()
    if ppid > 1:
        assert bench._is_descendant_of(me, ppid)
    assert not bench._is_descendant_of(1, me)


def test_bench_rejects_unknown_query():
    """A query name on bench.py's command line that names no registered
    query exits non-zero before any session starts, listing the valid
    names."""
    with pytest.raises(SystemExit) as exc:
        bench.main(["dedup_exact", "no_such_query"])
    msg = str(exc.value.code)
    assert "no_such_query" in msg
    assert all(name in msg for name in bench.QUERIES)


def test_bench_subset_keeps_detail_file(spark, monkeypatch, capsys):
    """A subset run prints the usual JSON line for just the named
    queries and leaves the full run's BENCH_DETAIL.json untouched."""
    import json

    from tests.conftest import SF_SMOKE

    detail = os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    before = open(detail, "rb").read() if os.path.exists(detail) else None
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    bench.main(["dedup_exact", "ktable_latest"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_queries"] == 2
    assert set(out["queries"]) == {"dedup_exact", "ktable_latest"}
    assert out["detail"] is None
    after = open(detail, "rb").read() if os.path.exists(detail) else None
    assert after == before
