"""App lifecycle: start / await / stop / restart-on-transient.

Reference KafkaStreamsApp.scala:26-55: resource-managed start, a state
listener that completes on ERROR/NOT_RUNNING, close with a 2s timeout;
plus the uncaught-exception policy (ErrorHandlingExample.scala:64-74):
REPLACE_THREAD for known-transient errors, SHUTDOWN otherwise.

Spark twin: StreamingQuery + awaitTermination; REPLACE_THREAD becomes
restart-the-query (state recovers from the checkpoint, so a restart is
exactly a thread replacement: no data loss, offsets resume).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQuery

from confluent_kafka_streams_examples_spark.streaming.errors import is_transient


class StreamApp:
    """Managed streaming query with the reference's error policy.

    ``start_query`` is a zero-arg callable returning a started
    StreamingQuery (so a restart rebuilds from scratch against the same
    checkpoint — the REPLACE_THREAD analog, E3).
    """

    def __init__(
        self,
        start_query: Callable[[], StreamingQuery],
        max_restarts: int = 3,
        on_state_change: Callable[[str], None] | None = None,
    ):
        self.start_query = start_query
        self.max_restarts = max_restarts
        self.on_state_change = on_state_change or (lambda s: None)
        self.query: StreamingQuery | None = None
        self.restarts = 0

    def start(self) -> "StreamApp":
        self.query = self.start_query()
        self.on_state_change("RUNNING")
        return self

    def await_termination(self, timeout: float | None = None) -> bool:
        """Await with restart-on-transient (E3).  Returns True when the
        query ended, False when ``timeout`` elapsed first."""
        assert self.query is not None, "call start() first"
        deadline = None if timeout is None else time.monotonic() + timeout
        while True:
            remaining = None if deadline is None else max(0.0, deadline - time.monotonic())
            try:
                if remaining is None:
                    self.query.awaitTermination()
                    return True
                return self.query.awaitTermination(remaining)
            except Exception as exc:  # StreamingQueryException
                if is_transient(exc) and self.restarts < self.max_restarts:
                    # REPLACE_THREAD: rebuild the query; checkpoint resumes
                    self.restarts += 1
                    self.on_state_change("RESTARTING")
                    self.query = self.start_query()
                    self.on_state_change("RUNNING")
                    continue
                self.on_state_change("ERROR")
                raise

    def stop(self, grace_seconds: float = 2.0) -> None:
        """close(2s) parity (reference KafkaStreamsApp.scala:29-31 +
        closeAfter call sites, e.g. BasicStreams.scala:45)."""
        if self.query is not None and self.query.isActive:
            self.query.stop()
            deadline = time.monotonic() + grace_seconds
            while self.query.isActive and time.monotonic() < deadline:
                time.sleep(0.05)
        self.on_state_change("NOT_RUNNING")
