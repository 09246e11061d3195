"""Structured Streaming surface: incremental KG construction into a
snapshot (icelite) table, stateful streaming dedup, and watermarked
windowed aggregation.

The batch pipeline (plans/pipeline.py) is the reprocessing path; this
package is the arrival path — the same operators applied incrementally
as pages land. All entry points are file-source streams so they can be
exercised hermetically; on a real deployment the source is an
Iceberg/parquet landing zone. The KG stream (icesink.py) lands its
triples exactly once through an icelite snapshot-summary watermark, the
same device plans/incremental.py uses.
"""

from .dedup import first_seen_result, streaming_first_seen
from .icesink import stream_kg_triples_to_table, table_triples_result
from .sources import stage_chunks
from .windows import sentinel_ts, streaming_window_counts, window_counts_result

__all__ = [
    "first_seen_result",
    "sentinel_ts",
    "stage_chunks",
    "stream_kg_triples_to_table",
    "streaming_first_seen",
    "streaming_window_counts",
    "table_triples_result",
    "window_counts_result",
]
