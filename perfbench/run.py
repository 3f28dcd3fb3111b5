"""go_lsh_spark benchmark: one workload per run on local[nproc].

    python3 perfbench/run.py --workload batch_dedup --seed 42 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one process

Run it from the root of a checkout. It makes its inputs from --seed and
sets them up several times (setup_s is the median). It runs a workload's
warm-up operation untimed, then runs operations back to back (a closed
loop with one client) for at least --seconds and the workload's MIN_OPS
operations, and checks every result. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones. With --trace 1 each
operation runs twice: once with a span around each call the program makes
for it, once as is (see TRACE_OPS). The metrics are then the per-layer
ones, read from Spark's status store under each span's job group, the
tracing overhead (traced against untraced wall time), and the streaming
layer's, from a small stream drained after the operations
(workloads.StreamProbe). Spans,
per-op samples, the host record, every check, skip and failure go to
.bench_out/report-<workload>-s<seed>-t<trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_out"
SETUP_REPS = 3
# a trace run measures two operations, each traced and untraced, in the
# order T U U T: ops right after the warm-up are still warming, and this
# order gives both sides the same share of that
TRACE_OPS = 4

END_TO_END = {
    "latency_p50_s": "s",
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
SPANS = ("plan", "result")
SPAN_COUNTERS = {"jobs": "count", "tasks": "count", "cpu_s": "s", "shuffle_mb": "MB",
                 "driver_gap_s": "s"}
STREAM_METRICS = {
    "stream.batch_s": "s", "stream.sink_writes_s": "s", "stream.winnow_df_s": "s",
    "stream.pair_gen_s": "s", "stream.verify_clusters_s": "s", "stream.touched_kparts": "count",
    "stream.touched_sparts": "count", "stream.jobs": "count", "stream.cpu_s": "s",
    "stream.driver_gap_s": "s", "stream.reconcile_s": "s", "stream.state_files": "count",
    "stream.state_amp": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for sp in SPANS:
        units[f"{sp}.s"] = "s"
        units.update({f"{sp}.{k}": u for k, u in SPAN_COUNTERS.items()})
    units.update({
        "op.s": "s", "op.self_s": "s", "op.jobs": "count", "op.gc_s": "s",
        "python.time_s": "s", "python.bytes_mb": "MB",
        "op.candidates": "count", "op.pass_ratio": "ratio", "trace.overhead_ratio": "ratio",
    })
    units.update(STREAM_METRICS)
    return units


def layer_metrics(tracer, traced: list[float], untraced: list[float]) -> tuple[dict, list]:
    """Medians over the traced operations of each span's wall time and
    Spark counters, plus whole-operation totals."""
    samples: dict[str, list[float]] = {}
    self_times = []

    def add(key: str, value: float) -> None:
        samples.setdefault(key, []).append(value)

    for op in (s for s in tracer.spans if s.name == "op"):
        kids = {c.name: c for c in tracer.children(op)}
        if not set(SPANS) <= kids.keys():  # the op failed part-way
            continue
        everything = [op, *kids.values()]
        for sp in SPANS:
            add(f"{sp}.s", kids[sp].wall_s)
            for k in SPAN_COUNTERS:
                add(f"{sp}.{k}", kids[sp].counters[k])
        add("op.s", op.wall_s)
        add("op.self_s", tracer.self_time(op))
        for key, counter in (("op.jobs", "jobs"), ("op.gc_s", "gc_s"),
                             ("python.time_s", "py_time_s"), ("python.bytes_mb", "py_bytes_mb")):
            add(key, sum(s.counters[counter] for s in everything))
        add("op.candidates", op.attrs["candidates"])
        add("op.pass_ratio", op.attrs["passed"] / max(op.attrs["candidates"], 1))
        self_times.append({"op": tracer.self_time(op), **{sp: tracer.self_time(kids[sp]) for sp in SPANS}})
    out = {k: statistics.median(v) for k, v in samples.items()}
    out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return out, self_times


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from harness import RssSampler, Tracer, timing_summary  # noqa: PLC0415
    from workloads import WORKLOADS, Report, StreamProbe  # noqa: PLC0415

    report = Report()
    wl = WORKLOADS[name](spark, seed, work, report)

    rss = RssSampler().start()
    # a trace run reports no setup_s, so it sets up once
    phases = {"start": time.perf_counter()}
    setup_times = []
    for _ in range(1 if trace else SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
    phases["setup"] = time.perf_counter()

    attempted = failed = 0

    def attempt(fn, i: int) -> float | None:
        """Run one operation; count it, and record why if it failed."""
        nonlocal attempted, failed
        attempted += 1
        try:
            wall, ok = fn(i)
        except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
            report.fail(f"op[{i}]", traceback.format_exc(limit=3))
            wall, ok = None, False
        failed += not ok
        return wall if ok else None

    warmup_s = attempt(wl.op, -1)
    phases["warmup"] = time.perf_counter()

    tracer = Tracer(spark) if trace else None
    untraced, traced = [], []
    min_ops = TRACE_OPS if trace else wl.MIN_OPS
    start, i = time.perf_counter(), 0
    while i < min_ops or time.perf_counter() - start < seconds or (trace and i % 2):
        pair, second = divmod(i, 2)
        if trace and second == pair % 2:
            wall = attempt(lambda k: wl.traced_op(k, tracer), pair)
            tracer.resolve()
            if wall is not None:
                traced.append(wall)
        else:
            wall = attempt(wl.op, pair if trace else i)
            if wall is not None:
                untraced.append(wall)
        i += 1
    window_s = time.perf_counter() - start

    phases["measure"] = time.perf_counter()
    wl.finish()
    phases["finish"] = time.perf_counter()
    rss.stop()
    stream = {}
    if trace:
        stream = StreamProbe(spark, seed, work, report).run(tracer)
        phases["stream_probe"] = time.perf_counter()
        attempted += 1
        failed += any(f["op"] == "stream_probe" for f in report.failures)
    attempted += len(report.checks)
    failed += sum(not c["ok"] for c in report.checks)
    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": failed == 0,
        "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted, "window_s": window_s,
        "setup_times_s": setup_times, "warmup_s": warmup_s,
        "latencies_s": untraced, "traced_latencies_s": traced,
        "latency": timing_summary(untraced) if untraced else None,
        "item": wl.item, "items_per_op": wl.items_per_op,
        "phase_s": {k: phases[k] - phases[p] for p, k in zip(list(phases), list(phases)[1:])},
        "checks": report.checks, "skipped": report.skipped, "failures": report.failures,
    }
    if untraced:
        result["end_to_end"] = {
            "latency_p50_s": statistics.median(untraced),
            "items_per_s": wl.items_per_op * len(untraced) / sum(untraced),
            "setup_s": statistics.median(setup_times),
            "peak_rss_mb": rss.peak_mb,
        }
    if trace and traced and untraced:
        result["per_layer"], result["self_time_s"] = layer_metrics(tracer, traced, untraced)
        result["per_layer"].update(stream)
        result["spans"] = [s.record() for s in tracer.spans]
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "go_lsh_spark" / "__init__.py").is_file():
        print(f"perfbench: no go_lsh_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS  # noqa: PLC0415

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2

    work = OUT / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Python workers are started by the JVM: they find the package through
    # PYTHONPATH, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, the spark-submit launcher's too, keeps its files in the run
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"

    from harness import host_record, start_session, stop_session  # noqa: PLC0415

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    try:
        host = host_record(spark, cores)
        host["session_start_s"] = time.perf_counter() - t0
        results = [run_workload(spark, n, args.seed, args.seconds, bool(args.trace), work) for n in names]
    finally:
        t1 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["session_stop_s"] = time.perf_counter() - t1
    host["loadavg_after"] = list(os.getloadavg())

    units = per_layer_units() if args.trace else END_TO_END
    key = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else f"{r['workload']}/"
        for m, u in units.items():
            if m in r.get(key, {}):
                metrics[prefix + m] = {"value": r[key][m], "unit": u}
        rpath = OUT / f"report-{r['workload']}-s{args.seed}-t{args.trace}.json"
        rpath.write_text(json.dumps({"host": host, **r}, indent=1, default=str))
        for f in r["failures"]:
            print(f"FAILED {r['workload']} {f['op']}: {f['reason']}", file=sys.stderr)
        for c in r["checks"]:
            if not c["ok"]:
                print(f"FAILED {r['workload']} check {c['check']}: {c['detail']}", file=sys.stderr)
        for s in r["skipped"]:
            print(f"SKIPPED {r['workload']} {s['check']}: {s['reason']}", file=sys.stderr)
        print(f"{r['workload']}: failed_ratio {r['failed_ratio']} ({r['failed']}/{r['attempted']}); "
              f"latency {r['latency']}; report {rpath.relative_to(ROOT)}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"  {name} = {m['value']} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
