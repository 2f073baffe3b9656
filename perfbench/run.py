"""Benchmark entry point.

    python3 perfbench/run.py --workload request-mix --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Copies the star-schema
fixture and generates the workload's other inputs from the seed under
``.perfbench/<workload>/``, runs the engine
on ``local[<cpus>]`` (all CPUs this process may use), checks the
outputs against the DuckDB oracles, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a JSON report with the detail
(host load, sample counts, setup split, per-layer self times, the
traced per-query split). Exits 1 when an output check fails, 2 when
the engine's sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    # name: unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "stored_bytes_per_input_byte": "B/B",
}
# per-layer metric -> (unit, end-to-end metric it should move, on which workload)
PER_LAYER = {
    "session.start_s": ("s", "setup_s", "both"),
    "staging.build_s": ("s", "setup_s", "both: staged parity views (request-mix), first registry calls (pipeline-batch)"),
    "build_ms": ("ms", "op_p50_ms, ops_per_s", "request-mix (api.run_query), pipeline-batch (registry query functions)"),
    "build_jobs": ("count", "op_p50_ms, ops_per_s", "pipeline-batch >> request-mix (jobs run while plans are built)"),
    "build_share": ("ratio", "op_p50_ms", "request-mix"),
    "plan_ms": ("ms", "op_p50_ms", "request-mix"),
    "execute_ms": ("ms", "op_p50_ms (and the reported op_p90_ms)", "request-mix (api.to_records), pipeline-batch"),
    "execute_jobs": ("count", "op_p50_ms", "both"),
    "stages": ("count", "op_p50_ms", "both"),
    "tasks": ("count", "op_p50_ms", "both"),
    "failed_tasks": ("count", "ops_per_s (and the reported op_p90_ms)", "both"),
    "result_rows": ("count", "op_p50_ms", "both"),
    "scan.files_read": ("count", "op_p50_ms", "pipeline-batch (ingested warehouse) > request-mix"),
    "scan.rows_read_per_result_row": ("ratio", "op_p50_ms", "both"),
    "shuffle_bytes": ("bytes", "op_p50_ms", "both"),
    "spill_bytes": ("bytes", "ops_per_s (and the reported op_p90_ms)", "pipeline-batch"),
    "python.bytes_sent": ("bytes", "ops_per_s", "pipeline-batch (Arrow/pandas kernels)"),
    "python.bytes_received": ("bytes", "ops_per_s", "pipeline-batch (Arrow/pandas kernels)"),
    "cache.persisted_rdds": ("count", "ops_per_s (and the reported peak_rss_mb)", "pipeline-batch"),
    "cache.release_ms": ("ms", "ops_per_s", "pipeline-batch"),
    "self.op_ms": ("ms", "op_p50_ms", "both (time outside the engine's calls)"),
    "self.build_ms": ("ms", "op_p50_ms", "both"),
    "self.sources_ms": ("ms", "op_p50_ms", "request-mix (store probe, view reads)"),
    "self.plan_ms": ("ms", "op_p50_ms", "request-mix"),
    "self.execute_ms": ("ms", "op_p50_ms", "both"),
    "trace.overhead_ms": ("ms", "none (cost of tracing)", "both"),
}
BUILD_SPANS = ("api.run_query", "plans.registry")
EXECUTE_SPANS = ("api.to_records", "execute")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pct(values: list[float], q: int) -> float:
    """q-th percentile (1..99), linear between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _cpu_ticks() -> list[int]:
    """Host CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # JVM options for spark-submit's launcher and for Spark's JVM: temp
    # files go under the work directory, no hsperfdata under /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    tempfile.tempdir = tmp


def end_to_end(w, setup_s: float, wall: float) -> dict:
    ok = [r["ms"] for r in w.ops if r["ok"] and not r["traced"]]
    if w.name == "pipeline-batch":
        ops_per_s = len(ok) / (sum(ok) / 1e3)
    else:
        ops_per_s = sum(1 for r in w.ops if r["ok"]) / wall
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return {
        "setup_s": setup_s,
        "op_p50_ms": _median(ok),
        # reported, not gated: a run has 8 to 66 ops, too few to put
        # ten beyond the 90th percentile, and its spread between runs
        # of the same code reached 0.3 to 0.4 on a 4-vCPU host
        "op_p90_ms": _pct(ok, 90),
        "ops_per_s": ops_per_s,
        "stored_bytes_per_input_byte": w.stored_bytes / w.input_bytes,
        # reported, not gated: G1 heap growth makes it vary by up to a
        # third between runs of the same code
        "peak_rss_mb": py_rss + w.jvm_peak_rss_mb(),
    }


def per_layer(w) -> tuple[dict, dict]:
    tr = w.tracer
    ops = tr.ops
    by_op: dict[int, dict[str, float]] = {}
    by_span: dict[str, list[float]] = {}
    for s, own in tr.self_times():
        role = (
            "op" if s["name"] == "op"
            else "build" if s["name"] in BUILD_SPANS
            else "execute" if s["name"] in EXECUTE_SPANS
            else "plan" if s["name"] == "spark.plan"
            else "sources"
        )
        d = by_op.setdefault(s["op"], {})
        d[role] = d.get(role, 0.0) + own
        by_span.setdefault(s["name"], []).append(own)
    selfs = {
        role: _median(d.get(role, 0.0) for d in by_op.values())
        for role in ("op", "build", "sources", "plan", "execute")
    }
    # tracing overhead: traced minus untraced latency within each pair
    # of identical ops (same request and parameters, or same query)
    lat: dict[tuple, list[float]] = {}
    for r in w.ops:
        if r["ok"]:
            lat.setdefault((r["pair"], r["traced"]), []).append(r["ms"])
    pairs = {pair for pair, _ in lat}
    overhead = _median(
        _median(lat[(q, True)]) - _median(lat[(q, False)])
        for q in pairs if (q, True) in lat and (q, False) in lat
    )
    untraced = [r["ms"] for r in w.ops if r["ok"] and not r["traced"]]
    rows = sum(r["result_rows"] for r in ops)
    m = {
        "session.start_s": w.setup_parts["session.start_s"],
        "staging.build_s": w.setup_parts["staging.build_s"],
        "build_ms": _median(r["build_ms"] for r in ops),
        "build_jobs": _mean(r["build_jobs"] for r in ops),
        "build_share": sum(r["build_ms"] for r in ops) / sum(r["ms"] for r in ops),
        "plan_ms": _median(r["plan_ms"] for r in ops),
        "execute_ms": _median(r["execute_ms"] for r in ops),
        "execute_jobs": _mean(r["execute_jobs"] for r in ops),
        "stages": _mean(r["execute_stages"] for r in ops),
        "tasks": _mean(r["execute_tasks"] for r in ops),
        "failed_tasks": sum(r["execute_failed_tasks"] for r in ops),
        "result_rows": rows / len(ops),
        "scan.files_read": _mean(r["files_read"] for r in ops),
        "scan.rows_read_per_result_row": sum(r["rows_read"] for r in ops) / max(1, rows),
        "shuffle_bytes": _mean(r["shuffle_bytes"] for r in ops),
        "spill_bytes": _mean(r["spill_bytes"] for r in ops),
        "python.bytes_sent": _mean(r["py_sent"] for r in ops),
        "python.bytes_received": _mean(r["py_received"] for r in ops),
        "cache.persisted_rdds": _mean(r["persisted_rdds"] for r in ops),
        "cache.release_ms": _median(w.detail["cache.release_ms"]),
        "self.op_ms": selfs["op"],
        "self.build_ms": selfs["build"],
        "self.sources_ms": selfs["sources"],
        "self.plan_ms": selfs["plan"],
        "self.execute_ms": selfs["execute"],
        "trace.overhead_ms": overhead,
    }
    extra = {
        "traced_ops": len(ops),
        "untraced_ops": len(untraced),
        "trace_overhead_share": overhead / _median(untraced),
        "self_time_ms_by_span": {k: _median(v) for k, v in sorted(by_span.items())},
    }
    if w.name == "pipeline-batch":
        extra["batch"] = {
            q: {
                "build_s": _median(r["build_ms"] for r in ops if r["label"] == q) / 1e3,
                "execute_s": _median(r["execute_ms"] for r in ops if r["label"] == q) / 1e3,
                "build_jobs": _mean(r["build_jobs"] for r in ops if r["label"] == q),
                "execute_jobs": _mean(r["execute_jobs"] for r in ops if r["label"] == q),
            }
            for q in dict.fromkeys(r["label"] for r in ops)
        }
        reads, writes = w.ingest_trace
        extra["ingest"] = {
            "ingest.read_plan_ms": sum(reads),
            "ingest.write_s": sum(s for s, _ in writes),
            "ingest.write_tasks": sum(t for _, t in writes),
        }
    return m, extra


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "projet_etl_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    w = WORKLOADS[args.workload](ROOT, work, args.seed, args.seconds, bool(args.trace))
    w.generate()
    try:
        t0 = time.perf_counter()
        w.start_session()
        w.setup()
        setup_s = time.perf_counter() - t0
        w.settle()
        wall = w.measure()
        e2e = end_to_end(w, setup_s, wall)
        layers, extra = per_layer(w) if w.trace else ({}, {})
        w.check()
        if w.trace:
            w.tracer.dump(os.path.join(work, "trace.json"))
    finally:
        w.stop()
    load_end = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]

    ok = [r["ms"] for r in w.ops if r["ok"] and not r["traced"]]
    tail = {}
    for q in (99, 95):
        if len(ok) * (100 - q) / 100 > 10:
            tail[f"op_p{q}_ms"] = _pct(ok, q)
            break
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{_cpus()}]",
        "loop": f"{w.loop}, {w.clients} client(s)",
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        # share of CPU time the virtual CPUs waited while the host ran
        # other guests: a contended run shows here
        "cpu_steal_share": ticks[7] / max(1, sum(ticks)),
        "samples": len(ok),
        "end_to_end": {**e2e, **tail},
        "error_rate": w.failed / w.attempted,
        "setup_parts": w.setup_parts,
        "detail": w.detail,
        "errors": w.errors[:20],
    }
    if w.trace:
        report["per_layer"] = layers
        report["per_layer_moves"] = {k: {"moves": v[1], "on": v[2]} for k, v in PER_LAYER.items()}
        report.update(extra)
    with open(os.path.join(work, "result.json"), "w", encoding="utf-8") as f:
        json.dump({**report, "ops": w.ops}, f, indent=1, default=str)
    print(json.dumps(report, default=str))

    chosen = layers if w.trace else e2e
    units = {k: v[0] for k, v in PER_LAYER.items()} if w.trace else END_TO_END
    result = {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0 if w.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
