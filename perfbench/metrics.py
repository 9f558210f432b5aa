"""Names and units of every metric the benchmark reports.

BENCHMARK.json at the repository root lists the same metrics; the
benchmark's tests keep the two in step. Every workload reports every
metric.
"""

# end-to-end metrics of an untraced run: (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("import_links_per_s", "links/s", "higher"),
    ("fold_s", "s", "lower"),
    ("store_bytes_per_link", "B/link", "lower"),
    ("serve_rps", "req/s", "higher"),
]

# per-layer metrics of the traced run: (name, unit, better)
PER_LAYER = [
    ("sources.parse_ms", "ms", "lower"),
    ("sources.raw_links", "count", "higher"),
    ("sources.pages", "count", "higher"),
    ("operators.compact_ms", "ms", "lower"),
    ("operators.compact_ratio", "ratio", "lower"),
    ("operators.pagerank_ms", "ms", "lower"),
    ("operators.rank_iters", "count", "lower"),
    ("operators.rank_jobs_per_iter", "jobs/iter", "lower"),
    ("sinks.linkstore_write_ms", "ms", "lower"),
    ("sinks.pagestore_write_ms", "ms", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_written", "B", "lower"),
    ("sinks.resolve_ms", "ms", "lower"),
    ("sinks.links_bind_ms", "ms", "lower"),
    ("sinks.links_bind_jobs", "jobs", "lower"),
    ("sinks.pages_bind_ms", "ms", "lower"),
    ("sinks.pages_bind_tasks", "tasks", "lower"),
    ("sinks.ranks_bind_ms", "ms", "lower"),
    ("sinks.ranks_bind_tasks", "tasks", "lower"),
    ("api.links_query_ms", "ms", "lower"),
    ("api.links_jobs_per_req", "jobs", "lower"),
    ("api.links_rows_read_per_row", "ratio", "lower"),
    ("api.pages_query_ms", "ms", "lower"),
    ("api.pages_jobs_per_req", "jobs", "lower"),
    ("api.ranks_lookup_ms", "ms", "lower"),
    ("api.ranks_jobs_per_req", "jobs", "lower"),
    ("api.http_overhead_ms", "ms", "lower"),
    ("Pipeline.import_ms_per_segment", "ms", "lower"),
    ("Pipeline.import_jobs_per_segment", "jobs", "lower"),
    ("Pipeline.fold_jobs", "jobs", "lower"),
    ("Pipeline.fold_other_ms", "ms", "lower"),
    ("Pipeline.shuffle_bytes", "B", "lower"),
    ("trace.serve_overhead_pct", "%", "lower"),
    ("traced.import_links_per_s", "links/s", "higher"),
    ("traced.fold_s", "s", "lower"),
]
