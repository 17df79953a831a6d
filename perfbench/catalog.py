"""The benchmark's metric catalog: one entry per metric it prints.

``BENCHMARK.json`` lists the same names, units and directions; the
self-check asserts the two agree. ``moves`` names the end-to-end metric
(and workload) a per-layer metric should move, so a moved end-to-end
number can be traced to a layer.
"""

from __future__ import annotations

WORKLOADS = ("store", "query_mix")

#: (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_probes", "ratio", "lower", 0.25),
    ("jobs_per_pass", "count", "lower", 0.1),
    ("tasks_per_pass", "count", "lower", 0.1),
    ("input_records_per_pass", "rows", "lower", 0.1),
    ("shuffle_bytes_per_pass", "bytes", "lower", 0.1),
)

QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "ref_pullx_range", "sim_ivfpq_topk",
    "text_split_segments_udtf", "timeseries_interarrival_stats",
    "timeseries_interarrival_stitched", "streaming_dedup_watermark_replay",
    "graph_connected_components",
)

_STORE = "on store"
_QM = "on query_mix"

#: (name, unit, better, moves)
PER_LAYER = (
    ("store.pushx_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.pushx_jobs", "count", "lower", f"jobs_per_pass {_STORE}"),
    ("store.files_per_append", "count", "lower", f"tasks_per_pass, input_records_per_pass {_STORE} (files read later)"),
    ("store.append_rows_per_s", "rows/s", "higher", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.lookup_p50_ms", "ms", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.lookup_p90_ms", "ms", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.lookup_samples", "count", "higher", "none: sample count behind the lookup percentiles"),
    ("store.pull_jobs", "count", "lower", f"jobs_per_pass {_STORE}"),
    ("store.rows_read_per_lookup", "rows", "lower", f"input_records_per_pass {_STORE}"),
    ("store.files", "count", "lower", f"tasks_per_pass {_STORE}"),
    ("store.range_read_rows_per_s", "rows/s", "higher", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.rows_read_per_range_row", "ratio", "lower", f"input_records_per_pass {_STORE} and {_QM} (ref_pullx_range)"),
    ("store.count_reopen_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("store.stored_bytes_per_user_byte", "ratio", "lower", f"input_records_per_pass {_STORE} (bytes behind each row read)"),
    ("ingest.buffer_rows_per_s", "rows/s", "higher", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("ingest.accept_us", "us", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("ingest.flush_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("ingest.flush_jobs", "count", "lower", f"jobs_per_pass {_STORE}"),
    ("ingest.stream_rows_per_s", "rows/s", "higher", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("ingest.stream_batch_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("ingest.stream_batches", "count", "lower", f"jobs_per_pass {_STORE}"),
    ("ingest.replay_skipped", "count", "higher", f"failed (must be 1) {_STORE}"),
    ("ingest.duplicate_rowids", "count", "lower", f"failed (must be 0) {_STORE}"),
    ("cache.warm_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("cache.hot_lookup_ms", "ms", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("cache.parquet_lookup_ms", "ms", "lower", f"pass_cpu_probes, wall.pass_s {_STORE}"),
    ("cache.pinned_bytes", "bytes", "lower", f"session.peak_rss_mb {_STORE}"),
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("session.peak_rss_mb", "MB", "lower", "none bounded: driver JVM + Python VmHWM, moved 20-30% between runs"),
    ("session.warmup_s", "s", "lower", "setup_s on every workload"),
    ("session.setup_wall_s", "s", "lower", "none bounded: wall time of what setup_s counts in CPU seconds; moves with host load"),
    ("driver.build_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("driver.plan_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("driver.plan_nodes", "count", "lower", f"jobs_per_pass, pass_cpu_probes {_QM}"),
    ("spark.jobs", "count", "lower", "jobs_per_pass on every workload"),
    ("spark.stages", "count", "lower", "tasks_per_pass on every workload"),
    ("spark.tasks", "count", "lower", "tasks_per_pass on every workload"),
    ("scan.input_records", "rows", "lower", "input_records_per_pass on every workload"),
    ("shuffle.write_bytes", "bytes", "lower", "shuffle_bytes_per_pass on every workload"),
    ("shuffle.read_bytes", "bytes", "lower", "shuffle_bytes_per_pass on every workload"),
    ("shuffle.skew", "ratio", "lower", f"pass_cpu_probes, wall.pass_s {_QM} (connected components)"),
    ("executor.run_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM} (connected components; little elsewhere)"),
    ("executor.cpu_s", "s", "lower", f"pass_cpu_probes {_QM}"),
    ("executor.gc_s", "s", "lower", f"pass_cpu_probes {_QM}"),
    ("executor.spill_bytes", "bytes", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("python.queries", "count", "lower", f"pass_cpu_probes, wall.op_geomean_ms {_QM}"),
    ("python.queries_s", "s", "lower", f"pass_cpu_probes, wall.op_geomean_ms {_QM}"),
    ("streaming.replay_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("scratch.builds", "count", "lower", f"jobs_per_pass {_QM} (co-purchase edges, IVF-PQ codes)"),
    ("scratch.build_s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("checkpoint.cuts", "count", "lower", f"jobs_per_pass {_QM} (connected components)"),
    ("checkpoint.s", "s", "lower", f"pass_cpu_probes, wall.pass_s {_QM}"),
    ("wall.pass_s", "s", "lower", "none bounded: wall time of one pass (untraced cycles); moves with host load"),
    ("wall.op_geomean_ms", "ms", "lower", "none bounded: geometric mean over operation kinds of median wall time"),
    ("cpu.pass_s", "s", "lower", "pass_cpu_probes on every workload (its numerator: CPU seconds per untraced cycle)"),
    ("cpu.probe_s", "s", "lower", "pass_cpu_probes on every workload (its denominator: CPU seconds of one probe, moved by host load only)"),
    ("cpu.probe_sort_s", "s", "lower", "none: the probe's multi-threaded JVM sort"),
    ("cpu.probe_jobs_s", "s", "lower", "none: the probe's tiny scheduler jobs"),
    ("trace.overhead_pct", "%", "lower", "none: traced vs untraced wall.pass_s in the same run"),
    ("trace.spans", "count", "lower", "none: nested spans recorded per traced pass"),
) + tuple(
    (f"operators.{q}_s", "s", "lower", f"pass_cpu_probes, wall.pass_s, wall.op_geomean_ms {_QM}") for q in QUERY_MIX
)

E2E_NAMES = tuple(m[0] for m in END_TO_END)
LAYER_NAMES = tuple(m[0] for m in PER_LAYER)
UNITS = {m[0]: m[1] for m in END_TO_END + PER_LAYER}
