from .epochs import StreamExtent
from .pipeline import StreamingLoadPipeline
from .stateful import streaming_dedup_first, streaming_session_agg
from .watermark import WatermarkLedger, WatermarkPolicy, combine_partition_watermarks

__all__ = [
    "streaming_dedup_first",
    "streaming_session_agg",
    "StreamExtent",
    "WatermarkPolicy",
    "WatermarkLedger",
    "combine_partition_watermarks",
    "StreamingLoadPipeline",
]
