"""Streaming layer: replay sources and event-time query builders."""

from etl_file_sync_spark.streaming.replay import (  # noqa: F401
    replay,
    run_to_memory_sink,
)
