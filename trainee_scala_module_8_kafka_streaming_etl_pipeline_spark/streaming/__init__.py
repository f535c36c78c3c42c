"""Structured Streaming layer — the reference's continuous-query surface.

The reference is a *streaming* ETL pipeline: sources are continuous CDC
(/root/reference/README.md:352-365, 371-385), every analytic statement
runs forever (``EMIT CHANGES`` at README.md:440, 458, 479), and the sink
upserts incrementally by key (README.md:487-493).  This package maps that
surface onto Structured Streaming:

  sources.py  — file-based ``readStream`` sources (the broker-free
                stand-in for the Kafka topics; SURVEY.md §7.2 phase 1)
                plus the Kafka option surface (S5/S7), and the one way
                to start a streaming query: ``start_query`` (and its
                run-to-completion form ``run_query``) starts an
                ``availableNow`` query with its state width sized from
                the bytes of the source paths it reads
                (``session.input_width``), scoped to that start.
  upsert.py   — the keyed-upsert sink (S9/E2): a versioned parquet state
                table maintained by ``foreachBatch`` MERGE with delete
                propagation, the ES-connector analogue — and the one
                state-table commit protocol every state sink shares.
  pipeline.py — the continuous queries themselves: streaming
                ``latest_by_offset`` in update mode (A2/A3/E1), the
                watermarked stream-stream interval join (J2), and the
                composed flagship pipeline with temporal stream-table
                enrichment (J1, foreachBatch semantics).

The other modules are ``foreachBatch`` state sinks (sketches, bars,
dedup, SCD2, cohort, …); each ``run_*_stream`` takes its stream, the
source paths that stream reads, and its state directory, and is one
``run_query`` call.
"""

from .sources import file_stream, kafka_source_options, run_query, start_query  # noqa: F401
from .sinks import materialize_to_topic  # noqa: F401
from .upsert import read_state, upsert_batch, keyed_upsert_sink  # noqa: F401
from .pipeline import (  # noqa: F401
    streaming_latest_by_offset,
    watermarked_interval_join,
    run_flagship_stream,
)
