"""Every metric the benchmark prints, with its unit and direction, and for
each per-layer metric the end-to-end metric and workload it should move
(perfbench/README.md explains each). ``BENCHMARK.json`` declares the same
workloads and metrics; a helper test keeps the two in step.

The end-to-end names are shared by the workloads, with these meanings:

| metric             | cdc_drain                        | cdc_tail                        | registry_sf0.01             |
|--------------------|----------------------------------|---------------------------------|-----------------------------|
| `setup_s`          | get_spark to first trigger start | get_spark to first trigger start| get_spark + index open + memos |
| `throughput_per_s` | events committed / drain time    | events committed / load time    | queries / registry time     |
| `p50_ms`           | median batch `triggerExecution`  | median event commit latency     | median query wall time      |
| `p95_ms`           | p95 batch `triggerExecution`     | p95 event commit latency        | p95 query wall time         |
"""

from __future__ import annotations

#: Workloads declared in BENCHMARK.json.
WORKLOADS = ("cdc_drain", "cdc_tail", "registry_sf0.01")

#: (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("p50_ms", "ms", "lower"),
    ("p95_ms", "ms", "lower"),
)

_DRAIN = "throughput_per_s,p50_ms@cdc_drain"
_TAIL = "p50_ms,p95_ms@cdc_tail"
_REG = "throughput_per_s,p95_ms@registry_sf0.01"

# Per-layer metrics: (name, unit, better, end-to-end metrics@workload it
# should move). Each workload measures its own set; a traced run fails
# when one of them is not measured.
_COMMON = (
    ("session.get_spark_s", "s", "lower", "setup_s@all"),
    ("process.peak_rss_mb", "MiB", "lower",
     "memory: work moved into memory shows here"),
    ("trace.extra_s", "s", "lower", "none: time spent on trace-only work"),
)
_CDC = (
    ("cdc_source.latest_offset_ms_p50", "ms", "lower", f"{_TAIL}; {_DRAIN}"),
    ("cdc_source.rows_read_per_event", "rows", "lower", _DRAIN),
    ("cdc_source.partitions_per_batch", "count", "lower", f"{_DRAIN}; {_TAIL}"),
    ("cdc_source.read_s", "s", "lower", _DRAIN),
    ("streaming.query_planning_ms_p50", "ms", "lower", _TAIL),
    ("streaming.add_batch_ms_p50", "ms", "lower", f"{_DRAIN}; {_TAIL}"),
    ("streaming.wal_commit_ms_p50", "ms", "lower", _TAIL),
    ("streaming.commit_offsets_ms_p50", "ms", "lower", _TAIL),
    ("streaming.trigger_ms_p50", "ms", "lower", f"{_DRAIN}; {_TAIL}"),
    ("transform.events_per_s", "1/s", "higher", _DRAIN),
    ("json_codec.payload_bytes_per_event", "bytes", "lower", _DRAIN),
    ("dedup_state.rows_total", "rows", "lower",
     f"p50_ms@cdc_drain; {_TAIL}; process.peak_rss_mb"),
    ("dedup_state.memory_bytes", "bytes", "lower", "process.peak_rss_mb"),
    ("dedup_state.commit_ms_p50", "ms", "lower", f"{_DRAIN}; {_TAIL}"),
    ("dedup_state.rows_dropped", "rows", "lower", "none: 0 on unique input"),
    ("nats_sink.published", "count", "higher", "throughput_per_s@cdc_drain"),
    ("nats_sink.duplicates", "count", "lower", "none: must stay 0"),
    ("nats_sink.drain_events_per_s", "1/s", "higher", _DRAIN),
    ("nats_sink.ack_wait_s", "s", "lower", _DRAIN),
    ("loadgen.events", "count", "higher", "events offered"),
    ("loadgen.backlog_end_events", "count", "lower",
     "validity of cdc_tail: a growing backlog means the rate is not sustained"),
    ("sample.events", "count", "higher", "events behind the percentiles"),
    ("sample.batches", "count", "higher", "batches behind the percentiles"),
)
_DRAIN_ONLY = (
    ("baseline.local1_events_per_s", "1/s", "higher",
     "single-threaded reference for throughput_per_s@cdc_drain"),
)
_TAIL_ONLY = (
    ("loadgen.lag_ms_max", "ms", "lower", "validity of cdc_tail"),
)

QUERY_MODULES = (
    "queries_cdc", "queries_changelog", "queries_corpus", "queries_dedup",
    "queries_ivm", "queries_multimodal", "queries_pipeline",
    "queries_quality", "queries_relational", "queries_scalar",
    "queries_similarity", "queries_sketch_range", "queries_text",
)
_REGISTRY = (
    ("prebuild.memo_build_s", "s", "lower", "setup_s@registry_sf0.01"),
    ("prebuild.index_open_s", "s", "lower", "setup_s@registry_sf0.01"),
    ("prebuild.index_build_s", "s", "lower", "none: built once per dataset"),
    ("registry.queries", "count", "higher", f"sample count of {_REG}"),
    ("registry.total_s", "s", "lower", _REG),
) + tuple(
    (f"{m}.{k}", u, "lower", _REG)
    for m in QUERY_MODULES
    for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
)

#: The per-layer metrics each workload measures.
LAYERS = {
    "cdc_drain": _COMMON + _CDC + _DRAIN_ONLY,
    "cdc_tail": _COMMON + _CDC + _TAIL_ONLY,
    "registry_sf0.01": _COMMON + _REGISTRY,
}

#: Every per-layer metric, as BENCHMARK.json declares them. A traced run
#: prints all of them; one that its workload does not measure reads 0.
PER_LAYER = tuple({m[0]: m for ws in LAYERS.values() for m in ws}.values())
