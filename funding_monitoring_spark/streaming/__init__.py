"""Structured Streaming layer (SURVEY.md §2.9 / §7 Phase 3).

The reference simulates streaming with a 5-minute Airflow batch
scheduler; here the same semantics are Structured Streaming
micro-batches:

- `replay`    — test/bench harness: replay a static table as a chunked
  file stream (stands in for the per-tick REST polls).
- `sinks`     — foreachBatch writers: last-write-wins parquet upsert
  (K1/K2), atomic snapshot overwrite (K3/K4).
- `pipelines` — the streaming pipelines: watermarked dedup + upsert
  ingestion, tumbling-window rollup, and the full funding pipeline
  (ingest + per-tick stats snapshot recompute).
"""

from funding_monitoring_spark.streaming.pipelines import (  # noqa: F401
    streaming_funding_pipeline,
    streaming_tumbling_rollup,
    streaming_upsert_rates,
)
from funding_monitoring_spark.streaming.replay import (  # noqa: F401
    stream_from_chunks,
    write_time_ordered_chunks,
)
from funding_monitoring_spark.streaming.sinks import (  # noqa: F401
    atomic_overwrite,
    upsert_writer,
)
