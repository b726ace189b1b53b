"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  Workloads: ``registry`` (registered
batch queries over generated tables) and ``stream_join``,
``stream_processor``, ``stream_deadletter`` (the JoinsExample,
ProcessorApiExample and ErrorHandlingExample pipelines, drained and then
fed by an open-loop generator).  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is the full report: every end-to-end
metric under its workload-specific name, host markers, input digest and
the name of each failed operation.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

WORKLOADS = ("registry", "stream_join", "stream_processor", "stream_deadletter")
SETUP_REPS = 3

#: end-to-end metrics: name -> unit (every workload reports all of them)
END_TO_END = {
    "setup_s": "s",
    "closed_loop_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

_MODULES = ("queries", "queries_tpch", "queries_tpch2", "queries_corpus",
            "queries_llm", "queries_extra")
_OPERATORS = ("dedup", "graph", "merge", "multimodal", "profile", "similarity",
              "sketches", "skew", "stream", "table", "text", "windows")

#: per-layer metrics: name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.load_table_calls": ("count", "lower"),
    "session.load_table_s": ("s", "lower"),
    "session.schema_cache_hit_ratio": ("ratio", "higher"),
}
for _m in _MODULES:
    PER_LAYER.update({
        f"construct_s.{_m}": ("s", "lower"),
        f"construct_py4j_calls.{_m}": ("count", "lower"),
        f"construct_jobs.{_m}": ("count", "lower"),
        f"plan_s.{_m}": ("s", "lower"),
        f"exec_s.{_m}": ("s", "lower"),
        f"shuffle_write_bytes.{_m}": ("bytes", "lower"),
        f"spill_bytes.{_m}": ("bytes", "lower"),
    })
for _o in _OPERATORS:
    PER_LAYER[f"construct_self_s.operators.{_o}"] = ("s", "lower")
PER_LAYER.update({
    "artifacts.materialized_calls": ("count", "lower"),
    "artifacts.materialized_s": ("s", "lower"),
    "sources.latest_offset_ms": ("ms", "lower"),
    "sources.get_batch_ms": ("ms", "lower"),
    "sources.rows_read_per_input_row": ("ratio", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.trigger_p50_ms": ("ms", "lower"),
    "stream.planning_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.jobs_per_batch": ("count", "lower"),
    "state.rows": ("count", "lower"),
    "state.memory_bytes": ("bytes", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.rows_removed": ("count", "higher"),
    "state.rows_dropped_by_watermark": ("count", "lower"),
    "python.rows_sent": ("count", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_received": ("bytes", "lower"),
    "errors.deadletter_rows": ("count", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "generator.late_s": ("s", "lower"),
    "generator.backlog_end_files": ("count", "lower"),
    "scaling.drain_rows_per_s_local1": ("rows/s", "higher"),
})


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(workload: str, res: dict, peak_rss_mb: float) -> tuple[dict, dict]:
    """(contract metrics, the same numbers under the workload's own names)."""
    setup_s = sorted(res["setup_times"])[len(res["setup_times"]) // 2]
    if workload == "registry":
        named = {
            "registry_wall_s": (res["registry_wall_s"], "s"),
            "query_p50_s": (res["query_p50_s"], "s"),
            "query_p90_s": (res["query_p90_s"], "s"),
        }
        e2e = (res["registry_wall_s"], res["query_p50_s"], res["query_p90_s"])
    else:
        named = {
            "drain_rows_per_s": (res["drain_rows"] / res["drain_s"], "rows/s"),
            "latency_p50_s": (res["latency_p50_s"], "s"),
            "latency_tail_s": (res["latency_tail_s"], "s"),
            "latency_tail_percentile": (100 * res["latency_tail_q"], "%"),
        }
        e2e = (res["drain_s"], res["latency_p50_s"], res["latency_tail_s"])
    metrics = dict(zip(END_TO_END, (setup_s, *e2e, peak_rss_mb)))
    named = {"setup_s": (setup_s, "s"), **named, "peak_rss_mb": (peak_rss_mb, "MB")}
    return metrics, named


def main(argv=None) -> int:
    args = _args(argv)
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, bench_dir)
    import common

    common.install_term_handler()
    sys.path.insert(0, common.ROOT)
    from bench import adjudicate_host, host_markers  # the repository's own markers

    import registry
    import spans
    import streams

    work = common.prepare_environment(
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")

    host_start = host_markers("start")
    cpu_start = common.cpu_times()
    tracer = spans.Tracer(enabled=bool(args.trace))
    engine = common.Engine()
    t_run = time.perf_counter()
    phases = {}
    try:
        with common.PeakRss() as rss:
            try:
                if args.workload == "registry":
                    res = registry.run(engine, args.seed, args.seconds, tracer, work,
                                       SETUP_REPS)
                else:
                    res = streams.run(args.workload, engine, args.seed, args.seconds,
                                      tracer, work, SETUP_REPS)
            finally:
                phases["workload_s"] = time.perf_counter() - t_run
                engine.close()
                phases["close_s"] = time.perf_counter() - t_run - phases["workload_s"]
        t_check = time.perf_counter()
        if args.workload == "registry":
            failures = registry.check(res)
            attempted = len(res["order"])
        else:
            failures = [f"{b}: published but not committed within {streams.SETTLE_S} s "
                        "of the schedule's end" for b in res["missing"]]
            failures += streams.check(args.workload, res)
            attempted = res["arrivals"] + 1
        phases["check_s"] = time.perf_counter() - t_check
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_end = host_markers("end", idle_interval_s=0.0)
    host_end["cpu_idle_pct"] = None
    contaminated, reasons = adjudicate_host(host_start, host_end)
    steal = common.steal_pct(cpu_start, common.cpu_times())

    metrics, named = end_to_end(args.workload, res, rss.peak_mb)
    failed = len(failures)
    named["failed_ratio"] = (failed / attempted, "1")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "attempted": attempted,
        "failures": failures,
        "input_digest": res["input_digest"],
        "host": {"start": host_start, "end": host_end},
        "contaminated": contaminated,
        "contamination_reasons": reasons,
        "cpu_steal_pct": steal,
        "cpus": common.CPUS,
        "rss_mb_at_peak": rss.at_peak,
        "run_wall_s": time.perf_counter() - t_run,
        "phases_s": {**phases, **res.get("phases", {}), "setup_reps": res["setup_times"]},
    }
    if args.workload == "registry":
        report.update(passes=res["passes"], order=res["order"], per_query_s=res["per_query_s"])
    else:
        report.update(arrivals=res["arrivals"],
                      offered_rows_per_s=res["offered_rows_per_s"],
                      generator_late_p99_s=res["late_p99_s"])
    if contaminated:
        print(f"perfbench: host contaminated: {'; '.join(reasons)}", file=sys.stderr)
    if steal > 5.0:
        print(f"perfbench: the hypervisor took {steal:.0f}% of host CPU time during the run; "
              "wall-clock metrics are slowed by the host", file=sys.stderr)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    last_path = os.path.join(common.OUT_DIR, f"last_untraced_{args.workload}.json")
    if args.trace:
        per_layer, unavailable = _per_layer(args.workload, res["layer"])
        try:
            with open(last_path, encoding="utf-8") as fh:
                base = json.load(fh)
            overhead = {k: {"traced": metrics[k], "untraced": base[k],
                            "delta": metrics[k] - base[k]} for k in metrics}
        except (OSError, ValueError, KeyError):
            overhead = {"unavailable": "no untraced run of this workload in this checkout"}
        doc = spans.write_trace(
            os.path.join(common.OUT_DIR, f"trace_{args.workload}_s{args.seed}.json"),
            workload=args.workload, seed=args.seed, tracer=tracer, per_layer=per_layer,
            unavailable=unavailable, end_to_end=metrics, tracing_overhead=overhead)
        report["self_time_s"] = doc["self_time_s"]
        report["tracing_overhead"] = overhead
        out_metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in per_layer.items()}
    else:
        with open(last_path, "w", encoding="utf-8") as fh:
            json.dump(metrics, fh)
        out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps(report, default=str))
    correct = not failures and all(math.isfinite(m["value"]) for m in out_metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def _per_layer(workload: str, layer: dict) -> tuple[dict, dict]:
    """Every per-layer metric; a layer this workload does not run reads 0
    and is listed in ``unavailable`` with the reason."""
    out, unavailable = {}, {}
    for name in PER_LAYER:
        value = layer.get(name)
        if value is None:
            unavailable[name] = f"layer not exercised by {workload}"
            value = 0.0
        out[name] = float(value)
    return out, unavailable


if __name__ == "__main__":
    sys.exit(main())
