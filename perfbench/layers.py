"""Per-layer metrics of a traced run, and the units of every metric.

Layer counters come from the harness's op records (see Tracer.scala).
Time and count metrics are means per operation over the traced
operations of the workload; ratios are taken over totals.

A call's driver gap is its wall time less build, planning and job wall,
so the four add up to the wall by construction. A gap below
-NEGATIVE_GAP_TOL_MS means planning and jobs overlapped and were counted
twice; `exec.negative_gap_ops` counts such calls.
"""
import stats

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p75_ms": "ms", "wall_s": "s",
             "retained_heap_mb": "MB"}

# per-layer metric -> (unit, layer counter it averages per operation)
_PER_OP = {
    "entry.build_ms": ("ms", "build_ms"),
    "entry.build_jobs": ("count", "build_jobs"),
    "plan.analysis_ms": ("ms", "analysis_ms"),
    "plan.optimizer_ms": ("ms", "optimizer_ms"),
    "plan.physical_ms": ("ms", "physical_ms"),
    "exec.jobs": ("count", "jobs"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.job_wall_ms": ("ms", "job_wall_ms"),
    "exec.driver_gap_ms": ("ms", "driver_gap_ms"),
    "exec.sched_delay_ms": ("ms", "sched_delay_ms"),
    "exec.run_ms": ("ms", "run_ms"),
    "exec.cpu_ms": ("ms", "cpu_ms"),
    "exec.gc_ms": ("ms", "gc_ms"),
    "scan.bytes_read": ("bytes", "bytes_read"),
    "scan.records_read": ("count", "records_read"),
    "shuffle.write_bytes": ("bytes", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("bytes", "shuffle_read_bytes"),
    "shuffle.fetch_wait_ms": ("ms", "fetch_wait_ms"),
    "spill.mem_bytes": ("bytes", "spill_mem_bytes"),
    "spill.disk_bytes": ("bytes", "spill_disk_bytes"),
}
_STREAM = {
    "streaming.add_batch_ms": "stream_add_batch_ms",
    "streaming.wal_commit_ms": "stream_wal_commit_ms",
    "streaming.query_planning_ms": "stream_query_planning_ms",
    "streaming.commit_offsets_ms": "stream_commit_offsets_ms",
    "streaming.state_commit_ms": "stream_state_commit_ms",
}
_PIPELINE_OPS = {
    "pipelines.ingest_daily_ms": ["pipelines.ingest_daily"],
    "pipelines.upsert_dim_ms": ["pipelines.upsert_movies", "api.ingest_goods_events"],
    "pipelines.append_stock_ms": ["pipelines.append_stock"],
    "pipelines.fold_ms": ["pipelines.fold"],
}

UNITS = dict(
    {k: u for k, (u, _) in _PER_OP.items()},
    **{"tables.register_ms": "ms", "exec.cpu_ratio": "ratio",
       "exec.useful_task_ratio": "ratio", "exec.negative_gap_ops": "count"},
    **{k: "ms" for k in _PIPELINE_OPS},
    **{"pipelines.files_written": "count", "pipelines.bytes_written": "bytes",
       "store.write_amp": "ratio", "store.space_amp": "ratio"},
    **{k: "ms" for k in _STREAM},
    **{"streaming.start_ms": "ms", "streaming.batches": "count",
       "streaming.empty_batch_ratio": "ratio", "streaming.state_rows": "count"},
    **{"sources.parse_ms": "ms", "api.read_ms": "ms", "jvm.gc_ms": "ms",
       "jvm.heap_peak_mb": "MB", "setup.generate_s": "s", "setup.oracle_s": "s",
       "setup.fixtures_s": "s", "setup.warm_s": "s", "trace.overhead_ratio": "ratio"})

# each of the summed parts is rounded to whole milliseconds
NEGATIVE_GAP_TOL_MS = 5.0

_MAIN_KINDS = {"agent_sql": ("sql", "face"), "store_ingest": ("commit", "read", "parse")}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def negative_gaps(ops):
    """The traced calls whose driver gap is negative beyond rounding."""
    return [o for o in ops if "layers" in o
            and o["layers"]["driver_gap_ms"] < -NEGATIVE_GAP_TOL_MS]


def per_layer(workload, ops, summary, setup, landed_bytes):
    traced = [o for o in ops if o.get("phase") == "timed" and "layers" in o]
    main = [o for o in traced if o["kind"] in _MAIN_KINDS[workload]]
    tot = lambda k: sum(o["layers"].get(k, 0.0) for o in main)
    m = {name: _mean([o["layers"].get(key, 0.0) for o in main])
         for name, (_, key) in _PER_OP.items()}
    m["tables.register_ms"] = _mean([o["register_ms"] for o in main if o["kind"] == "sql"])
    m["exec.cpu_ratio"] = tot("cpu_ms") / tot("run_ms") if tot("run_ms") else 0.0
    m["exec.useful_task_ratio"] = tot("useful_tasks") / tot("tasks") if tot("tasks") else 0.0
    m["exec.negative_gap_ops"] = len(negative_gaps(traced))

    for name, op_names in _PIPELINE_OPS.items():
        m[name] = _mean([o["dur_ms"] for o in main if o["op"] in op_names])
    commits = [o for o in main if o["kind"] == "commit"]
    m["pipelines.files_written"] = _mean([float(o.get("files_written", 0)) for o in commits])
    m["pipelines.bytes_written"] = _mean([float(o.get("bytes_written", 0)) for o in commits])
    # bytes written under the store root (staging, ledgers and checkpoints
    # included) and live at the end, per byte of landed input
    m["store.write_amp"] = int(summary.get("store_bytes_written", 0)) / landed_bytes if landed_bytes else 0.0
    m["store.space_amp"] = int(summary.get("store_bytes_live", 0)) / landed_bytes if landed_bytes else 0.0

    drains = [o for o in main if o["op"] == "streaming.drain"]
    for name, key in _STREAM.items():
        m[name] = _mean([o["layers"].get(key, 0.0) for o in drains])
    m["streaming.start_ms"] = _mean([o.get("stream_start_ms", 0.0) for o in drains])
    batches = sum(o["layers"].get("stream_batches", 0.0) for o in drains)
    m["streaming.batches"] = batches / len(drains) if drains else 0.0
    m["streaming.empty_batch_ratio"] = (
        sum(o["layers"].get("stream_empty_batches", 0.0) for o in drains) / batches
        if batches else 0.0)
    m["streaming.state_rows"] = max(
        [o["layers"].get("stream_state_rows", 0.0) for o in drains], default=0.0)

    m["sources.parse_ms"] = _mean([o["dur_ms"] for o in main if o["kind"] == "parse"])
    m["api.read_ms"] = _mean([o["dur_ms"] for o in main if o["kind"] == "read"])
    m["jvm.gc_ms"] = summary["gc_ms"]
    m["jvm.heap_peak_mb"] = summary["heap_peak_mb"]
    for k in ("generate_s", "oracle_s", "fixtures_s", "warm_s"):
        m[f"setup.{k}"] = setup[k]
    m["trace.overhead_ratio"] = summary["trace_overhead_ratio"]
    return m
