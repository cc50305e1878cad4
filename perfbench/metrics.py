"""Every metric the benchmark reports, with its unit and direction.

``BENCHMARK.json`` lists the same names; ``perfbench/tests/test_perfbench.py`` keeps
the two in step.
"""

from __future__ import annotations

#: end-to-end metrics, measured with tracing off. Each workload gives every
#: one of them its own meaning (see ``WORKLOAD_NAMES`` for the workload's
#: own name of each figure).
E2E = [
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p90_ms", "ms", "lower"),
    ("side_latency_p50_ms", "ms", "lower"),
    ("side_latency_p90_ms", "ms", "lower"),
]

#: what each generic end-to-end metric is on each workload
WORKLOAD_NAMES = {
    "market_stream": {
        "throughput_per_s": "catchup_events_per_s",
        "latency_p50_ms": "candle_latency_p50_ms",
        "latency_p90_ms": "candle_latency_p90_ms",
        "side_latency_p50_ms": "ofi_latency_p50_ms",
        "side_latency_p90_ms": "ofi_latency_p90_ms",
    },
    "market_batch": {
        "throughput_per_s": "batch_events_per_s",
        "latency_p50_ms": "bars_asof_written_p50_ms",
        "latency_p90_ms": "bars_asof_written_p90_ms",
        "side_latency_p50_ms": "stats_candles_written_p50_ms",
        "side_latency_p90_ms": "stats_candles_written_p90_ms",
    },
    "corpus_curate": {
        "throughput_per_s": "curate_docs_per_s",
        "latency_p50_ms": "curated_written_p50_ms",
        "latency_p90_ms": "curated_written_p90_ms",
        "side_latency_p50_ms": "decontam_written_p50_ms",
        "side_latency_p90_ms": "decontam_written_p90_ms",
    },
}

BATCH_CALLS = [
    "sources.read_kafka_log",
    "functions.parse",
    "sources.write_partitioned",
    "sources.read_partitioned",
    "operators.dollar_bars",
    "operators.asof_join",
    "operators.market_stats",
    "operators.candles",
]
CORPUS_CALLS = [
    "operators.quality_scores",
    "operators.minhash_jaccard_pairs",
    "operators.canonical_docs",
    "operators.contamination_report",
    "operators.curate_corpus",
    "operators.embedding_neardup_pairs",
    "operators.ivfpq_build",
    "operators.ivfpq_topk",
]
CALL_METRICS = [
    ("self_s", "s"),
    ("construct_ms", "ms"),
    ("cpu_ms", "ms"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
]
STREAM_QUERIES = ["candle", "ofi"]
STREAM_METRICS = [
    ("trigger_ms", "ms", "lower"),
    ("addBatch_ms", "ms", "lower"),
    ("queryPlanning_ms", "ms", "lower"),
    ("walCommit_ms", "ms", "lower"),
    ("commitOffsets_ms", "ms", "lower"),
    ("latestOffset_ms", "ms", "lower"),
    ("sink_ms", "ms", "lower"),
    ("state_rows", "count", "lower"),
    ("state_memory_bytes", "B", "lower"),
    ("state_commit_ms", "ms", "lower"),
    ("catchup_rows_per_s", "1/s", "higher"),
]
FUNNEL = ["quality", "canonical", "clean", "out"]


def per_layer() -> list[tuple[str, str, str]]:
    out = []
    for call in BATCH_CALLS + CORPUS_CALLS:
        out += [(f"{call}.{m}", unit, "lower") for m, unit in CALL_METRICS]
    out.append(("operators.asof_join.task_skew", "ratio", "lower"))
    for q in STREAM_QUERIES:
        out += [(f"streaming.{q}.{m}", unit, better) for m, unit, better in STREAM_METRICS]
    out += [
        ("sources.backlog_files_p90", "count", "lower"),
        ("generator.late_ms_p99", "ms", "lower"),
        ("session.start_s", "s", "lower"),
        # summed RSS of the benchmark's process tree; it swings with GC and
        # Python-worker timing too much to hold an end-to-end bound
        ("process.peak_rss_mb", "MB", "lower"),
    ]
    out += [(f"curation.rows_{f}", "count", "higher") for f in FUNNEL]
    out.append(("ann.recall_at_10", "ratio", "higher"))
    out += [(f"trace_overhead.{n}", u, b) for n, u, b in E2E]
    out += [(f"local1.{n}", u, b) for n, u, b in E2E]
    return out


#: which end-to-end metric a per-layer metric should move, by name prefix
#: (the longest matching prefix wins): the prediction a change on that
#: layer is checked against
MOVES = {
    "sources.": "throughput_per_s (market_batch)",
    "functions.": "throughput_per_s (market_batch)",
    "operators.": "throughput_per_s (market_batch, corpus_curate)",
    "operators.asof_join.task_skew": "throughput_per_s (market_batch)",
    "streaming.": "latency_p50_ms, side_latency_p50_ms (market_stream)",
    "streaming.candle.state_": "latency_p90_ms (market_stream)",
    "streaming.ofi.state_": "side_latency_p90_ms (market_stream)",
    "streaming.candle.catchup_": "throughput_per_s (market_stream)",
    "streaming.ofi.catchup_": "throughput_per_s (market_stream)",
    "sources.backlog_files_p90": "latency_p90_ms, side_latency_p90_ms (market_stream)",
    "generator.": "none: how late the open loop ran",
    "session.": "setup_s",
    "process.": "none: memory",
    "curation.": "none: funnel counts, which must repeat exactly",
    "ann.": "none: result quality",
    "trace_overhead.": "none: the tracing's own cost",
    "local1.": "none: single-core baseline",
}

PER_LAYER = per_layer()
UNITS = {n: u for n, u, _ in E2E + PER_LAYER}
