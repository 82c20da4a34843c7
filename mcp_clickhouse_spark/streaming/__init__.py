"""Structured Streaming extensions (SURVEY.md §2.3.10: the reference has NO
streaming surface — these are additive, built so every batch analytics query
in inventory/timeseries.py has a streaming twin)."""

from mcp_clickhouse_spark.streaming.ops import (  # noqa: F401
    run_available_now,
    session_counts,
    sliding_counts,
    stream_events,
    stream_parquet,
    streaming_dedup,
    streaming_embedding_neardup,
    streaming_incremental_dedup,
    streaming_corpus_stats,
    streaming_minhash_neardup,
    tumbling_counts,
    user_running_totals,
)
