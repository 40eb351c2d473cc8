from .rollup_stream import (
    streaming_dedup,
    streaming_hll_tier,
    streaming_last_value,
    streaming_sessionize,
    streaming_tier,
)

__all__ = [
    "streaming_tier",
    "streaming_dedup",
    "streaming_last_value",
    "streaming_sessionize",
    "streaming_hll_tier",
]
