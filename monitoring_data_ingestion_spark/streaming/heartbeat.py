"""Liveness heartbeat (T8: /root/reference/src/rabbit.js:14-16 writes
heart.json at every worker start; src/scripts/status.js asserts freshness).

Spark-native form: a StreamingQueryListener that writes an atomic
heartbeat document on every query progress event — the freshness monitor
(plans/timeseries.ts_freshness_check is the query side) reads it.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

from ..ingest.sinks import write_json_atomically


class HeartbeatListener(StreamingQueryListener):
    """Writes ``{"last_beat": iso, "query": name, "batch_id": n}`` on every
    progress event, atomically (``ingest.sinks.write_json_atomically``).

    ``query_name`` scopes the heartbeat to ONE query: a session-level
    StreamingQueryListener receives events from EVERY streaming query,
    so without the filter any other query's progress would keep the
    file fresh after the monitored pipeline died — the exact liveness
    failure the heartbeat exists to expose.  None (the default) keeps
    the session-wide behavior for single-query sessions."""

    def __init__(self, heart_path: str, query_name: str | None = None):
        self.heart_path = heart_path
        self.query_name = query_name
        os.makedirs(os.path.dirname(heart_path) or ".", exist_ok=True)

    def _mine(self, name) -> bool:
        return self.query_name is None or name == self.query_name

    def onQueryStarted(self, event) -> None:
        if not self._mine(event.name):
            return
        write_json_atomically(
            self.heart_path,
            {
                "last_beat": datetime.now(timezone.utc).isoformat(),
                "query": event.name or event.id,
                "batch_id": -1,
            },
        )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if not self._mine(p.name):
            return
        write_json_atomically(
            self.heart_path,
            {
                "last_beat": datetime.now(timezone.utc).isoformat(),
                "query": p.name or p.id,
                "batch_id": p.batchId,
            },
        )

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryIdle(self, event) -> None:  # pragma: no cover - noop
        pass
