"""Structured Streaming equivalents of the reference's stateful-batch
operators (SURVEY.md §2.10 — clearly-labeled *extensions*; the
reference is batch-only).

The reference's incremental semantics map onto streaming primitives:

* D3 file-arrival state (``extract_movimentacoes_folder.py:50-104``,
  ``_state.json`` per file) ≈ a file-source stream's checkpoint — the
  source tracks processed files exactly-once;
* D4 high-watermark control table (``datatrack_spark_utils.py:102-217``)
  ≈ ``withWatermark`` event-time bounds;
* D1 keyed latest-wins dedup ≈ ``dropDuplicatesWithinWatermark``.

Every streaming pipeline here has a batch twin in the query registry
(``ext_tumbling_window``, ``ext_sessionize``, ``w1_dedup_latest``) so
results stay oracle-checkable: run the stream with
``trigger(availableNow=True)`` over the same files and you get the
batch answer.

The stateful sinks that fold a stream into a table (latest-wins upsert,
continuous aggregate, CDC apply, CUSUM drift) live in ``lake_tx``: they
commit each micro-batch through its atomic manifest swap.
"""

from .pipelines import (
    conversion_pattern_stream,
    file_source_stream,
    run_available_now,
    running_totals_stream,
    sessionized_stream,
    stream_dedup_by_content,
    stream_dedup_latest,
    stream_interval_join,
    substring_dedup_stream,
    windowed_agg_stream,
    winnow_fingerprint_stream,
)

__all__ = [
    "conversion_pattern_stream",
    "file_source_stream",
    "run_available_now",
    "running_totals_stream",
    "sessionized_stream",
    "stream_dedup_by_content",
    "stream_dedup_latest",
    "stream_interval_join",
    "substring_dedup_stream",
    "windowed_agg_stream",
    "winnow_fingerprint_stream",
]
