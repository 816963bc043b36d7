"""qwatch_spark same-host benchmark.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 40 --trace 0

Runs one workload from the repository root: writes the seeded inputs,
starts a Spark session fitted to the host, sets the program up, measures
for --seconds, checks the outputs, and prints every metric by name with
its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.

Exit codes: 0 correct, 1 a correctness check or an operation failed,
2 the program could not be imported or run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E = {  # name -> unit; order as in BENCHMARK.json
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "write_amp": "ratio",
    "rss_p50_mb": "MB",
}

PER_LAYER = {
    "feed.input_bytes": "B",
    "feed.scan_s": "s/epoch",
    "feed.backlog_files": "count",
    "rules.gate_pass_ratio": "ratio",
    "rules.udf_rows": "count/epoch",
    "rules.udf_bytes_sent": "B/epoch",
    "rules.udf_s": "s/epoch",
    "apply.write_s": "s/epoch",
    "apply.shuffle_write_bytes": "B/epoch",
    "apply.output_bytes": "B/epoch",
    "apply.spill_bytes": "B/epoch",
    "apply.gc_s": "s/epoch",
    "apply.executor_cpu_s": "s/epoch",
    "apply.jobs_per_epoch": "count/epoch",
    "apply.tasks_per_epoch": "count/epoch",
    "apply.sched_delay_s": "s/epoch",
    "apply.commit_stats_s": "s/epoch",
    "apply.commit_swap_s": "s/epoch",
    "apply.lineage_s": "s/epoch",
    "apply.dedup_ratio": "ratio",
    "apply.buckets_touched": "count/epoch",
    "apply.compact_s": "s",
    "apply.compactions": "count",
    "snapshot_table.compact_bytes_rewritten": "B",
    "snapshot_table.delta_depth_mean": "count",
    "snapshot_table.delta_depth_max": "count",
    "snapshot_table.files_per_lookup": "count",
    "snapshot_table.read_key_s": "s",
    "snapshot_table.jobs_per_lookup": "count",
    "snapshot_table.read_changes_s": "s",
    "snapshot_table.table_bytes": "B",
    "streaming.trigger_s": "s",
    "streaming.outside_apply_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.rows_per_trigger": "count",
    "dedup_text.exact_s": "s",
    "dedup_text.lsh_s": "s",
    "dedup_text.candidates": "count",
    "dedup_text.near_pairs": "count",
    "dedup_text.pair_yield": "ratio",
    "dedup_text.cc_s": "s",
    "dedup_text.cc_jobs": "count",
    "dedup_text.shuffle_write_bytes": "B",
    "sampling.mix_s": "s",
    "sampling.pack_s": "s",
    "self.bench_s": "s",
    "self.apply_s": "s",
    "self.snapshot_table_s": "s",
    "self.streaming_s": "s",
    "self.textstats_s": "s",
    "self.dedup_text_s": "s",
    "self.sampling_s": "s",
    "self.idle_s": "s",
    "bench.window_s": "s",
    "bench.generator_lag_s": "s",
    "bench.tracing_overhead": "ratio",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def fold_layers(run, wl, log_dir: str, progress: list, window_start: float) -> None:
    """Fold spans, the event log and listener progress into run.layer."""
    import spantrace as tr

    lay = run.layer
    win = [s for s in run.tracer.spans if s["name"] == "bench.window"]
    lo, hi = (win[0]["start"], win[0]["end"]) if win else (window_start, window_start)
    # a bench.window off the work thread only waits for the threads it
    # started; their spans carry the window's time instead
    spans = [s for s in run.tracer.spans if s["end"] > lo and s["start"] < hi
             and not (s["name"] == "bench.window" and s["thread"] != wl.work_thread)]
    lay["bench.window_s"] = hi - lo
    selfs = tr.self_times(spans, lo, hi)

    log = tr.read_event_log(log_dir)
    by_span = tr.jobs_by_span(log)
    # the streaming query's jobs carry their epoch; those submitted after
    # the epoch's commit are its compaction
    apply_jobs, compact_jobs, n_epochs = [], [], 0
    commits = lay.pop("_commits", {})
    walls = lay.pop("_epoch_walls", {})
    for b, jobs in tr.jobs_by_batch(log).items():
        if b not in commits:
            continue
        n_epochs += 1
        for j in jobs:
            (compact_jobs if log["jobs"][j]["submitted"] >= commits[b] else apply_jobs).append(j)
    n = max(1, n_epochs)
    f = tr.fold_jobs(log, apply_jobs)
    scan_ms = sum(
        st.get("run_ms", 0)
        for sid, st in log["stages"].items()
        if st.get("input_bytes", 0) > 0
        and any(sid in log["jobs"][j]["stages"] for j in apply_jobs)
    )
    lay.update(
        {
            "feed.scan_s": scan_ms / 1000.0 / n,
            "rules.gate_pass_ratio": (
                f.get("gate_rows_out", 0) / f["gate_rows_in"] if f.get("gate_rows_in") else 0.0
            ),
            "rules.udf_rows": f.get("udf_rows", 0) / n,
            "rules.udf_bytes_sent": f.get("udf_bytes_sent", 0) / n,
            "rules.udf_s": f.get("udf_time", 0) / n,
            "apply.shuffle_write_bytes": f.get("shuffle_write_bytes", 0) / n,
            "apply.output_bytes": f.get("output_bytes", 0) / n,
            "apply.spill_bytes": (f.get("spill_mem_bytes", 0) + f.get("spill_disk_bytes", 0)) / n,
            "apply.gc_s": f.get("gc_ms", 0) / 1000.0 / n,
            "apply.executor_cpu_s": f.get("cpu_ns", 0) / 1e9 / n,
            "apply.jobs_per_epoch": f["jobs"] / n,
            "apply.tasks_per_epoch": f["tasks"] / n,
            "apply.sched_delay_s": f.get("sched_delay_ms", 0) / 1000.0 / n,
            "snapshot_table.compact_bytes_rewritten": tr.fold_jobs(log, compact_jobs).get(
                "output_bytes", 0
            ),
        }
    )
    lookups = [s for s in spans if s["name"] == "snapshot_table.read_key"]
    lay["snapshot_table.jobs_per_lookup"] = (
        sum(len(by_span.get(s["id"], [])) for s in lookups) / len(lookups) if lookups else 0.0
    )

    live = [p for p in progress if p["rows"] > 0 and p["batch"] in walls]
    lay["streaming.trigger_s"] = _mean(p["ms"].get("triggerExecution", 0) / 1000 for p in live)
    lay["streaming.planning_s"] = _mean(p["ms"].get("queryPlanning", 0) / 1000 for p in live)
    lay["streaming.wal_commit_s"] = _mean(p["ms"].get("walCommit", 0) / 1000 for p in live)
    lay["streaming.rows_per_trigger"] = _mean(p["rows"] for p in live)
    lay["streaming.outside_apply_s"] = _mean(
        p["ms"].get("triggerExecution", 0) / 1000 - walls[p["batch"]]
        for p in live if p["batch"] in walls
    )
    if walls:
        # run_stream's span covers the window on the stream thread: split
        # it into the applies, the trigger time around them, and the wait
        # for the next trigger (idle, not a layer's work)
        trig = sum(tr.overlap(p["start"], p["start"] + p["ms"].get("triggerExecution", 0) / 1000,
                              lo, hi) for p in progress)
        applied = sum(walls[p["batch"]] for p in live if lo <= p["start"] <= hi)
        selfs["idle"] = selfs.get("streaming", 0.0) - trig
        selfs["streaming"] = trig - applied
        selfs["apply"] = applied
    for layer in ("bench", "apply", "snapshot_table", "streaming", "textstats",
                  "dedup_text", "sampling", "idle"):
        lay[f"self.{layer}_s"] = selfs.get(layer, 0.0)

    def span_mean(name):
        return _mean(s["end"] - s["start"] for s in spans if s["name"] == name)

    dd = [s for s in spans if s["name"].startswith("dedup_text.")]
    cc = [s for s in spans if s["name"] == "dedup_text.dedup_keep_canonical"]
    lay.update(
        {
            "dedup_text.exact_s": span_mean("dedup_text.exact_duplicates"),
            "dedup_text.lsh_s": span_mean("dedup_text.near_dup_pairs"),
            "dedup_text.cc_s": span_mean("dedup_text.dedup_keep_canonical"),
            "dedup_text.cc_jobs": sum(len(by_span.get(s["id"], [])) for s in cc),
            "dedup_text.shuffle_write_bytes": tr.fold_jobs(
                log, [j for s in dd for j in by_span.get(s["id"], [])]
            ).get("shuffle_write_bytes", 0),
            "sampling.mix_s": span_mean("sampling.stratified_sample"),
            "sampling.pack_s": span_mean("sampling.pack"),
        }
    )
    cand = lay.get("dedup_text.candidates", 0)
    lay["dedup_text.pair_yield"] = lay.get("dedup_text.near_pairs", 0) / cand if cand else 0.0


def run_pass(wl, args, work: str, traced: bool):
    import host
    from spantrace import Tracer, streaming_listener
    from workloads import Run

    os.makedirs(work, exist_ok=True)
    clock = {"start": time.perf_counter()}
    log_dir = os.path.join(work, "eventlog") if traced else None
    # inputs are written while the JVM starts; both finish before setup
    gen: dict = {}

    def write_inputs():
        try:
            gen["inp"] = wl.inputs(work, args.seed, args.seconds)
        except Exception:  # noqa: BLE001 - re-raised on the main thread
            gen["error"] = traceback.format_exc(limit=3)

    writer = threading.Thread(target=write_inputs, name="inputs")
    writer.start()
    spark = host.start_spark(work, log_dir)
    clock["session"] = time.perf_counter()
    session_s = clock["session"] - clock["start"]
    writer.join()
    clock["inputs"] = time.perf_counter()
    run = Run(args.seed, args.seconds, work, spark, Tracer(spark, traced))
    run.clock = clock
    progress: list = []
    window_start = None
    try:
        if "error" in gen:
            raise RuntimeError(f"writing inputs failed: {gen['error']}")
        inp = gen["inp"]
        if traced:
            spark.streams.addListener(streaming_listener(progress))
        st = wl.setup(run, inp)
        run.e2e["setup_s"] = session_s + st["setup_s"]
        clock["setup"] = time.perf_counter()
        window_start = time.time()
        wl.measure(run, inp, st)
        clock["measure"] = time.perf_counter()
        wl.check(run, inp, st)
        clock["check"] = time.perf_counter()
        if traced:
            wl.trace_extra(run, st)
    except Exception:  # noqa: BLE001 - the run reports, never hides, a crash
        run.op(False, traceback.format_exc(limit=3))
    finally:
        host.stop_spark(spark)
        clock["stop"] = time.perf_counter()
    if traced and window_start is not None:
        fold_layers(run, wl, log_dir, progress, window_start)
    return run


def untraced_twin(args) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    failed = {"correct": False, "attempted": 1, "failed": 1,
              "metrics": {"latency_p50_s": {"value": 0.0}}}
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    except subprocess.TimeoutExpired:  # run() has killed and reaped it
        return failed
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return failed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import host
        import workloads

        sys.path.insert(0, REPO)
        import qwatch_spark  # noqa: F401 - the program under test must be here
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(REPO, ".perfbench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    host.prepare_env(REPO, work)
    hostrec = host.host_record(REPO)
    base = None
    if args.trace:
        # the untraced twin runs as its own process, so the difference
        # is tracing alone, not a warmer JVM
        base = untraced_twin(args)
    spans_path = None
    try:
        with host.RssSampler() as rss:
            run = run_pass(wl, args, work, bool(args.trace))
        if args.trace:
            # the traced run's spans outlive its work directory
            spans_path = os.path.join(os.path.dirname(work), "spans",
                                      f"{wl.name}-s{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            run.tracer.dump(spans_path)
        run.e2e["rss_p50_mb"] = rss.median_mb()
        run.detail["peak_rss_mb"] = (rss.peak_mb(), "MB")
        if base is not None:
            run.attempted += base["attempted"]
            run.failed += base["failed"]
            if not base["correct"]:
                run.errors.append("untraced twin run failed")
            # latency, not throughput: stream_tail's throughput is set by
            # its open-loop rate and would hide the overhead
            lat = run.e2e.get("latency_p50_s")
            lat0 = base["metrics"]["latency_p50_s"]["value"]
            run.layer["bench.tracing_overhead"] = lat / lat0 - 1.0 if lat and lat0 else 0.0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(f"# host {json.dumps(hostrec, sort_keys=True)}")
    print(f"# workload {wl.name} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    if spans_path:
        print(f"# spans {os.path.relpath(spans_path, REPO)}")
    marks = list(run.clock.items())
    print("# phase walls " + " ".join(
        f"{k}={b - a:.1f}s" for (_, a), (k, b) in zip(marks, marks[1:])))
    for k, unit in E2E.items():
        print(f"{k} {run.e2e.get(k, float('nan')):.6g} {unit}")
    for k, (v, unit) in run.detail.items():
        print(f"{wl.name}.{k} {v:.6g} {unit}")
    if args.trace:
        for k, unit in PER_LAYER.items():
            print(f"{k} {run.layer.get(k, 0.0):.6g} {unit}")
    error_rate = run.failed / max(1, run.attempted)
    print(f"error_rate {error_rate:.6g} ratio")
    for e in run.errors:
        print(f"# FAILED: {e}", file=sys.stderr)
    names = PER_LAYER if args.trace else E2E
    source = run.layer if args.trace else run.e2e
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in names.items()}
    correct = run.failed == 0 and all(k in run.e2e for k in E2E)
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
