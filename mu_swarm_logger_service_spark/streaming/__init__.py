"""Streaming layer — SURVEY.md §2.9 rows 58-66.

The engine-side replacement for the reference's asyncio event loop
[pub:muswarmlogger/main.py]: Structured Streaming micro-batches with
checkpointed state instead of one coroutine + one synchronous SPARQL INSERT
per record (the reference's main perf defect, SURVEY.md §4.1).

Design rule (SURVEY.md §2.9): every streaming operator is a pure
``DataFrame -> DataFrame`` transformation applied identically under
``spark.read`` (batch → exact DuckDB oracle) and ``spark.readStream``
(micro-batch execution, exercised both by registered queries running
``availableNow`` jobs and by the replay harness in tests/).

Streams execute in one place: ``queries._run_available_now`` runs every
streaming-executed registered query to completion — checkpoint and sink
temp dirs, backlog-sized state partitions, ``Trigger.AvailableNow``,
cleanup on success and on failure.  Query bodies never start a stream or
write session conf themselves.
"""

from . import queries  # noqa: F401
from .transforms import (  # noqa: F401
    dedup_events,
    running_user_counters,
    session_windows,
    sessionize_batch,
    sliding_counts,
    stream_events,
    tumbling_counts,
)
