from tablecloth_time_spark.streaming.rollup import (
    streaming_hopping_rollup,
    streaming_profile,
    streaming_rollup,
    streaming_rollup_to_sink,
    streaming_sessionize,
)
from tablecloth_time_spark.streaming.stateful import (
    streaming_alternation_runs,
    streaming_budget_prefix,
    streaming_counter_rate,
    streaming_cusum,
    streaming_detect_gaps,
    streaming_ewma,
    streaming_funnel,
    streaming_sortedness,
    streaming_type_entropy,
)
from tablecloth_time_spark.streaming.dedup import streaming_dedup_exact
from tablecloth_time_spark.streaming.downsample import streaming_m4

__all__ = [
    "streaming_rollup",
    "streaming_hopping_rollup",
    "streaming_profile",
    "streaming_rollup_to_sink",
    "streaming_sessionize",
    "streaming_counter_rate",
    "streaming_cusum",
    "streaming_detect_gaps",
    "streaming_ewma",
    "streaming_funnel",
    "streaming_budget_prefix",
    "streaming_type_entropy",
    "streaming_sortedness",
    "streaming_alternation_runs",
    "streaming_dedup_exact",
    "streaming_m4",
]
