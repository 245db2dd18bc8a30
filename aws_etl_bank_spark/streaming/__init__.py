from aws_etl_bank_spark.streaming.runner import (  # noqa: F401
    for_each_batch,
    run_to_memory,
    sample_streaming_frame,
    windowed_event_counts,
)
from aws_etl_bank_spark.streaming.sessionize import (  # noqa: F401
    session_stats,
    stateful_user_counts,
)
from aws_etl_bank_spark.streaming.joins import (  # noqa: F401
    stream_dedup,
    stream_interval_join,
)
