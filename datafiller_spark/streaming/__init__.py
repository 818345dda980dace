from .stream import streaming_rollup, start_tier_pipeline_stream
from .gap_detector import detect_gaps

__all__ = ["streaming_rollup", "start_tier_pipeline_stream", "detect_gaps"]
