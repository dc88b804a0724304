from warp_spark.streaming.replay import (
    foreach_batch_sink,
    memory_sink,
    replay_events,
    replay_split,
)
from warp_spark.streaming.windows import (
    hourly_rollup,
    read_event_stream,
    heavy_hitters_stateful,
    run_stream_to_memory,
    sessionize,
    stream_interval_join,
    streaming_dedup,
    windowed_rollup,
)

__all__ = [
    "windowed_rollup",
    "hourly_rollup",
    "sessionize",
    "streaming_dedup",
    "stream_interval_join",
    "heavy_hitters_stateful",
    "read_event_stream",
    "run_stream_to_memory",
    "replay_events",
    "replay_split",
    "memory_sink",
    "foreach_batch_sink",
]
