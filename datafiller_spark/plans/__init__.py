from .pipeline import (
    PipelineResult,
    apply_chunk_retention,
    latest_snapshot_id,
    read_snapshots,
    run_pipeline,
    scan_chunks,
)
from .checkpoint import high_water_marks, read_high_water, write_high_water, incremental_filter

__all__ = [
    "run_pipeline",
    "read_snapshots",
    "latest_snapshot_id",
    "apply_chunk_retention",
    "scan_chunks",
    "PipelineResult",
    "high_water_marks",
    "read_high_water",
    "write_high_water",
    "incremental_filter",
]
