"""Event-time windows over batch or streaming frames.

The reference has no streaming (SURVEY.md §2.9) — daily micro-batching is
a date cursor (reference covid_to_s3.py:22-45,83-88), which here is
``plans.runner.run_day``. What stays is the windowing layer the
``events_*`` registry queries run in batch mode; the same calls add a
watermark when handed a streaming frame.
"""

from covid_data_pipeline_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

__all__ = ["tumbling_agg", "sliding_agg", "session_agg"]
