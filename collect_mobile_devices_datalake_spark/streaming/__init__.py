from .windows import (  # noqa: F401
    EVENTS_SCHEMA,
    sessionized_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
    dedup_stream,
)
from .pipeline import start_ingest_stream  # noqa: F401
