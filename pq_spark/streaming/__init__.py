from .rollup_stream import (
    streaming_dedup,
    streaming_sessionize,
    streaming_tier,
)

__all__ = [
    "streaming_tier",
    "streaming_dedup",
    "streaming_sessionize",
]
