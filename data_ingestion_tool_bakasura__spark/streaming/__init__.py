"""Structured Streaming surface (SURVEY §2.C17).

`windows` — watermarked tumbling/sliding/session aggregations and
stateful dedup as readStream transformations, plus a bounded-replay
harness (availableNow trigger -> memory sink) that lets the same
computation be checked against its batch/DuckDB oracle.

`pipeline` — the `foreachBatch` sinks that apply the batch operators
per micro-batch and append to persisted tables: incremental ingest,
key-addressed upsert, near/image/video/semantic/span dedup and the
crawl, all sharing one replay-safe commit protocol (see its module
docstring).

`stateful` — custom stateful operators via ``applyInPandasWithState``
(per-key running state with an anomaly flag).
"""
