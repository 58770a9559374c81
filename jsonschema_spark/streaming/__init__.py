from ..engine import validate_rows as validate_stream
from .validate import (
    drift_state_stream,
    incremental_dedup_stream,
    windowed_stats_stream,
)

__all__ = ["validate_stream", "windowed_stats_stream", "drift_state_stream",
           "incremental_dedup_stream"]
