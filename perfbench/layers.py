"""Per-layer metrics of the traced run, each with the end-to-end metric and
workload it should move. BENCHMARK.json's `per_layer` list is this table
without the last column (a test keeps the two equal).

A traced run reports every name; a layer its workload never enters reads 0.
"""

from __future__ import annotations

# The batch_hot queries: bench.HEADLINE rows on the operators/ cost centres,
# as many as one run's set-up and passes can afford.
QUERIES = (
    "bm25_keyword_search",
    "dedup_ngram_jaccard_capped",
    "interdoc_dup_runs_exact",
    "dedup_minhash_lsh",
    "media_neardup_simhash",
    "q3_shipping_priority",
)

_E = "email_bulk"
_B = "batch_hot"
_NONE = "none: the mention path has no timed workload"

LAYERS: list[tuple[str, str, str, str]] = [
    *(
        (f"engine.{p}_ms", "ms", "lower", f"batch_p50_ms on {_E}; nothing on {_B}")
        for p in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "addBatch")
    ),
    *(
        (f"functions.{k}_s", "s", "lower", f"rows_per_s and cpu_s on {_E}; nothing on {_B}")
        for k in ("qp_decode", "html_to_text", "clean_body", "avro_encode",
                  "avro_decode", "chunking")
    ),
    ("streaming.producer_transform_s", "s", "lower", f"rows_per_s and cpu_s on {_E}"),
    ("streaming.consumer_transform_s", "s", "lower", f"rows_per_s and cpu_s on {_E}"),
    ("streaming.history_context_s", "s", "lower", _NONE),
    ("streaming.enrich_mentions_s", "s", "lower", _NONE),
    ("sinks.slack_call_p50_ms", "ms", "lower", f"batch_p50_ms and rows_per_s on {_E}"),
    ("sinks.slack_call_total_ms", "ms", "lower", f"wall_s and rows_per_s on {_E}"),
    ("sinks.posts", "count", "higher", f"rows_per_s on {_E}"),
    ("sinks.transport_calls", "count", "lower", f"rows_per_s on {_E}"),
    ("sinks.dlq_rows", "count", "lower", f"error_rate on {_E}"),
    *(
        row
        for q in QUERIES
        for row in (
            (f"query.{q}.build_s", "s", "lower", f"setup_s on {_B}"),
            (f"query.{q}.wall_s", "s", "lower", f"wall_s on {_B}"),
            (f"query.{q}.executor_cpu_s", "s", "lower", f"cpu_s on {_B}"),
            (f"query.{q}.tasks", "count", "lower", f"wall_s on {_B}"),
            (f"query.{q}.shuffle_write_mb", "MB", "lower", f"wall_s and cpu_s on {_B}"),
            (f"query.{q}.spill_mb", "MB", "lower", f"wall_s on {_B}"),
        )
    ),
    ("email_bulk.local1_rows_per_s", "1/s", "higher",
     f"none: the single-threaded baseline for rows_per_s on {_E}"),
    ("span.round.self_s", "s", "lower", "wall_s on both workloads"),
    ("span.stream.self_s", "s", "lower", f"wall_s on {_E}"),
    ("span.sink_call.self_s", "s", "lower", f"batch_p50_ms on {_E}"),
    ("span.envelope_hop.self_s", "s", "lower", f"wall_s on {_E}"),
    ("span.query_count.self_s", "s", "lower", f"wall_s on {_B}"),
    ("trace_overhead_s", "s", "lower", "none: traced minus untraced wall_s"),
    ("batch_samples", "count", "higher", "none: the sample count behind batch_*_ms"),
    ("batch_tail_pct", "%", "higher", "none: the percentile batch_tail_ms reports"),
    ("error_rate", "ratio", "lower", "none: failed over attempted operations"),
    ("session.default_parallelism", "count", "higher", "cpu_s and wall_s on both"),
    ("session.driver_memory_mb", "MB", "lower", "session.peak_rss_mb"),
    ("host.steal_pct", "%", "lower",
     "none: CPU time the hypervisor gave other guests during the timed phase; "
     "wall-based metrics rise with it"),
    ("session.peak_rss_mb", "MB", "lower",
     "none: the run's peak memory, too noisy under the 48g heap default for a bound"),
]

UNITS = {name: unit for name, unit, _, _ in LAYERS}
