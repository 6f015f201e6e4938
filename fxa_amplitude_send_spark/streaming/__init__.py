from .pipeline import (
    dedup_within_watermark,
    read_payload_stream,
    run_pipeline,
)

__all__ = [
    "dedup_within_watermark",
    "read_payload_stream",
    "run_pipeline",
]
