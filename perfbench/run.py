"""Benchmark entry point.

    python3 perfbench/run.py --workload realtime_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run builds its inputs from the seed,
sets up an engine session, warms up by a fixed count of untimed steps,
measures closed-loop ops for ``--seconds`` seconds, finishing the op in
flight, checks the outputs, then prints one JSON object as the
last line of standard output. With ``--trace 0`` it holds the end-to-end
metrics; with ``--trace 1`` half the ops are traced and it holds the
per-layer metrics. Everything the run writes lives under
``.perfbench_tmp/run-<pid>`` and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from contextlib import nullcontext  # noqa: E402

import common  # noqa: E402
from lake import LakeWorkload  # noqa: E402
from realtime import RealtimeWorkload  # noqa: E402
from spans import Tracer, install_layer_wrappers, self_time_report  # noqa: E402

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "realtime_pipeline": RealtimeWorkload,
    "lake_ingest": LakeWorkload,
}
TOPOLOGIES = ["base_log", "dirty", "uv", "user_jump", "dim", "hist_ingest"]
TF_OPS = ["overwrite_partitions", "swap_partitions", "read", "repair"]
SELF_LAYERS = ["bench", "collector", "jobs", "router", "sinks", "table_format", "warehouse"]

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "ok_share": "share",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    u = {
        "collector.post_p50_ms": "ms",
        "collector.post_p99_ms": "ms",
        "collector.posts_failed": "count",
        "collector.flush_ms": "ms",
    }
    for t in TOPOLOGIES:
        for k in ("add_batch_ms", "trigger_ms", "outside_trigger_ms"):
            u[f"jobs.{t}.{k}"] = "ms"
    u.update({
        "jobs.planning_ms": "ms",
        "jobs.commit_ms": "ms",
        "jobs.latest_offset_ms": "ms",
        "jobs.source_read_ratio": "ratio",
        "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "state.commit_ms": "ms",
        "router.route_ms": "ms",
        "sinks.upsert_ms": "ms",
        "sinks.upsert_rows": "count",
    })
    for op in TF_OPS:
        u[f"table_format.{op}_ms"] = "ms"
        u[f"table_format.{op}_calls"] = "count"
    u.update({
        "table_format.files_written": "count",
        "table_format.bytes_written": "bytes",
        "dedup.clean_rows": "count",
        "dedup.dup_rows": "count",
        "dedup.near_dup_rows": "count",
        "dedup.bloom_bytes": "bytes",
        "dedup.step_ms_compacting": "ms",
        "dedup.step_ms_plain": "ms",
        "warehouse.register_ms": "ms",
        "warehouse.ads_query_ms": "ms",
        "session.start_ms": "ms",
        "setup.inputgen_ms": "ms",
        "setup.warmup_ms": "ms",
        "host.calib_cpu_s": "s",
        "host.calib_shuffle_s": "s",
        "host.loadavg_1m": "load",
    })
    for layer in SELF_LAYERS:
        u[f"self.{layer}_ms"] = "ms"
    u["trace.p50_ratio"] = "ratio"
    u["trace.throughput_ratio"] = "ratio"
    return u


PER_LAYER = _per_layer_units()


def run(args, root: str) -> dict:
    tracer = Tracer()
    loadavg = common.loadavg_1m()

    t = time.perf_counter()
    spark = common.start_session(root)
    session_ms = (time.perf_counter() - t) * 1000
    try:
        wl = WORKLOADS[args.workload](spark, root, args.seed, tracer)
        try:
            t = time.perf_counter()
            wl.generate()
            inputgen_ms = (time.perf_counter() - t) * 1000
            t = time.perf_counter()
            wl.warm_up()
            warmup_ms = (time.perf_counter() - t) * 1000
            wl.reset_stats()
            return measure(args, spark, wl, tracer, root, loadavg, session_ms, inputgen_ms, warmup_ms)
        finally:
            wl.stop()
    finally:
        common.stop_session(spark)


def measure(args, spark, wl, tracer, root, loadavg, session_ms, inputgen_ms, warmup_ms) -> dict:
    lake = os.path.join(root, "lake")
    files0, bytes0 = common.tree_size(lake)
    # traced ops follow an ABBA pattern, so traced and untraced ops share
    # both halves of a compaction cycle and any drift along the run
    min_ops = 4 if args.trace else 1
    lat: list[float] = []
    traced_flags: list[bool] = []
    keys = []
    units = 0
    t_first = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(lat) % 4 in (0, 3)
        with tracer.traced_op(len(lat), install_layer_wrappers) if traced else nullcontext():
            n, latency, key = wl.step()
        units += n
        lat.append(latency)
        traced_flags.append(traced)
        keys.append(key)
        elapsed = time.perf_counter() - t_first
        if elapsed >= args.seconds and len(lat) >= min_ops:
            break
    wall = time.perf_counter() - t_first
    setup_s = t_first - T_PROCESS_START

    ok = [wl.check(k) for k in keys]
    final_ok = wl.final_check()
    files1, bytes1 = common.tree_size(lake)
    peak = common.peak_rss_mb()
    # host drift record: traced runs only, to keep untraced runs short
    calib_cpu = common.calib_cpu_s() if args.trace else 0.0
    calib_shuffle = common.calib_shuffle_s(spark) if args.trace else 0.0

    n_ops = len(lat)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": units / wall,
        "p50_ms": common.quantile(lat, 0.5) * 1000,
        "p90_ms": common.quantile(lat, 0.9) * 1000,
        "ok_share": sum(ok) / n_ops,
        "peak_rss_mb": peak,
    }
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(wl.layer_metrics(n_ops))
    layer.update({
        "table_format.files_written": (files1 - files0) / n_ops,
        "table_format.bytes_written": (bytes1 - bytes0) / n_ops,
        "session.start_ms": session_ms,
        "setup.inputgen_ms": inputgen_ms,
        "setup.warmup_ms": warmup_ms,
        "host.calib_cpu_s": calib_cpu,
        "host.calib_shuffle_s": calib_shuffle,
        "host.loadavg_1m": loadavg,
    })
    if args.trace:
        n_traced = max(sum(traced_flags), 1)
        selfs, per_name = self_time_report(tracer.spans)
        for lyr in SELF_LAYERS:
            layer[f"self.{lyr}_ms"] = selfs.get(lyr, 0.0) * 1000 / n_traced
        for op in TF_OPS:
            tot, calls = per_name.get(f"table_format.{op}", (0.0, 0))
            layer[f"table_format.{op}_ms"] = tot * 1000 / n_traced
            layer[f"table_format.{op}_calls"] = calls / n_traced
        layer["router.route_ms"] = per_name.get("router.route", (0.0, 0))[0] * 1000 / n_traced
        layer["sinks.upsert_ms"] = per_name.get("sinks.upsert", (0.0, 0))[0] * 1000 / n_traced
        layer["sinks.upsert_rows"] = tracer.counts.get("sinks.upsert_rows", 0) / n_traced
        on = [x for x, f in zip(lat, traced_flags) if f]
        off = [x for x, f in zip(lat, traced_flags) if not f]
        layer["trace.p50_ratio"] = common.median(on) / common.median(off)
        layer["trace.throughput_ratio"] = (len(off) / sum(off)) / (len(on) / sum(on))

    correct = all(ok) and final_ok
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": n_ops,
        "op_latency_s": lat,
        "op_keys": keys,
        "units": units,
        "timed_wall_s": wall,
        "failures": wl.failures,
        "end_to_end": e2e,
        "per_layer": layer,
    }
    print("# detail " + json.dumps(detail, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {"correct": correct, "attempted": n_ops, "failed": n_ops - sum(ok), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO_ROOT)
    base = os.path.join(REPO_ROOT, ".perfbench_tmp")
    root = common.make_scratch_root(base)
    cwd = os.getcwd()
    try:
        common.point_temp_dirs_at(root)
        result = run(args, root)
    finally:
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
