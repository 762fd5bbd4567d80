from .windows import tumbling_counts, sliding_counts, session_counts, json_extract_k
from .ingest import (
    documents_stream_reader,
    run_dedup_ingest_available_now,
    seed_fingerprint_store,
)
from .jobs import drain, events_stream_reader

__all__ = [
    "documents_stream_reader",
    "run_dedup_ingest_available_now",
    "seed_fingerprint_store",
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "json_extract_k",
    "drain",
    "events_stream_reader",
]
