"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Makes the workload's inputs from the
seed, starts a session, warms up (all of it timed as ``setup_s``), then
sends closed-loop requests from one client for ``--seconds`` and checks
every response. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A diagnostics JSON line (sample counts, tail latency,
error rate, export times) precedes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

PACKAGE = "mwa_uvdata_pipeline_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def warm_up(wl) -> tuple[list[float], bool]:
    """The workload's fixed number of untimed requests (JIT and codegen
    settle); returns their times."""
    times, ok = [], True
    for i in range(wl.warmup):
        samples, busy = wl.request(i, False)
        ok = ok and all(s["ok"] for s in samples)
        times.append(busy)
    return times, ok


def measure(wl, first: int, seconds: float, trace: bool) -> tuple[list[dict], float]:
    """Closed loop, one client: the next request is sent when the last
    one returned. A traced run alternates untraced and traced requests
    so the tracing overhead is measured inside the same run."""
    samples: list[dict] = []
    busy = 0.0
    n = 0
    t_start = time.perf_counter()
    min_requests = max(2, wl.min_requests) if trace else wl.min_requests
    while (
        n < min_requests
        or time.perf_counter() - t_start < seconds
        or n % wl.request_block
    ):
        traced = trace and n % 2 == 1
        t0 = time.perf_counter()
        try:
            got, spent = wl.request(first + n, traced)
        except Exception:  # a failed request is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            got = [{"kind": wl.latency_kind, "latency": time.perf_counter() - t0,
                    "ok": False, "rows": 0, "bytes": 0, "traced": traced}]
            spent = got[0]["latency"]
        samples.extend(got)
        busy += spent
        n += 1
    return samples, busy


def end_to_end(samples, busy, wl, setup_s, rss_mb) -> tuple[dict, dict]:
    from perfbench.harness import median, percentile, tail_percentile

    lat = [s["latency"] for s in samples if s["kind"] == wl.latency_kind]
    q = tail_percentile(len(lat))
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": median(lat),
        "ops_per_s": len(samples) / busy,
        "rows_per_s": sum(s["rows"] for s in samples) / busy,
        "mb_per_s": sum(s["bytes"] for s in samples) / 1e6 / busy,
    }
    exports = [s["latency"] for s in samples if s["kind"] == "export"]
    diag = {
        "samples": len(samples),
        "latency_samples": len(lat),
        "latency_tail_s": percentile(lat, q),
        "latency_tail_percentile": q,
        "error_rate": sum(not s["ok"] for s in samples) / max(1, len(samples)),
        "export_samples": len(exports),
        "export_p50_s": median(exports),
        "export_tail_s": percentile(exports, tail_percentile(len(exports))),
        "peak_rss_mb": rss_mb,
        "latencies": [round(x, 3) for x in lat],
    }
    return metrics, diag


def per_layer(samples, wl, groups, session_s, gc_s, rss_mb) -> dict:
    from perfbench.harness import median, percentile, tail_percentile
    from perfbench.workloads import LAYER_METRICS

    metrics = dict.fromkeys(LAYER_METRICS, 0.0)
    for name, values in wl.spans.items():
        metrics[name] = median(values)
    exports = [s["latency"] for s in samples if s["kind"] == "export"]
    if exports:
        metrics["sinks.export_p50_s"] = median(exports)
        metrics["sinks.export_tail_s"] = percentile(exports, tail_percentile(len(exports)))
    kind = [s for s in samples if s["kind"] == wl.latency_kind]
    traced = [s["latency"] for s in kind if s["traced"]]
    plain = [s["latency"] for s in kind if not s["traced"]]
    if traced and plain:
        metrics["trace.tracing_overhead_s"] = median(traced) - median(plain)
    metrics["session.start_s"] = session_s
    metrics["jvm.gc_s"] = gc_s
    metrics["process.peak_rss_mb"] = rss_mb
    metrics.update(wl.layer_metrics(groups))
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    spec = load_spec()
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    t_setup = time.perf_counter()
    harness.configure_env(ROOT, work, trace)
    try:
        with harness.RssSampler() as rss:
            cls = WORKLOADS[args.workload]
            spark, session_s = harness.timed(harness.start_session, cls.cores)
            try:
                wl = cls(spark, work, args.seed)
                _, inputs_s = harness.timed(wl.setup)
                (warm, warm_ok), warmup_s = harness.timed(warm_up, wl)
                setup_s = time.perf_counter() - t_setup
                gc0 = harness.gc_seconds(spark)
                samples, busy = measure(wl, len(warm), args.seconds, trace)
                gc_s = harness.gc_seconds(spark) - gc0
                if trace:
                    samples += wl.probe()
            finally:
                harness.stop_session(spark)
        groups = harness.eventlog_groups(os.path.join(work, "events")) if trace else {}
        failed = sum(not s["ok"] for s in samples)
        e2e, diag = end_to_end(samples, busy, wl, setup_s, rss.peak_mb)
        diag.update({"workload": args.workload, "seed": args.seed,
                     "warmup_latencies": [round(x, 3) for x in warm],
                     "warmup_ok": warm_ok, "session_start_s": session_s, "inputs_s": inputs_s,
                     "warmup_s": warmup_s, "jvm_gc_s": gc_s})
        if trace:
            values = per_layer(samples, wl, groups, session_s, gc_s, rss.peak_mb)
            declared = spec["per_layer"]
        else:
            values = e2e
            declared = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(diag))
    print(json.dumps({"correct": warm_ok and failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
