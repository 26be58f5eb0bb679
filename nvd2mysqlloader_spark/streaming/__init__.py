from .windows import (stream_tumbling_counts, stream_session_aggregates,  # noqa: F401
                      stream_dedup_within_watermark)
from .joins import stream_error_click_interval_join                       # noqa: F401
