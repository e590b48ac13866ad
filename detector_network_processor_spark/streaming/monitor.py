"""Cluster health monitoring (SURVEY.md §2.6 A6, control plane).

The reference's supervision::state thread samples process cpu/mem and
emits a cluster_log_t row every minute (src/supervision/state.cpp:44-92,
57-92). The data-plane fields (in/out frequencies, outgoing
count-by-multiplicity, max_n, plausibility) are the ``cluster_log``
query (plans/muon.py); the PROCESS-level fields live here, outside the
data plane, as a ``StreamingQueryListener``: every micro-batch progress
event becomes one health row with engine throughput, state-store size and
driver cpu/mem (``resource.getrusage`` — no psutil in this environment).

Rows buffer on the driver in a bounded deque (the newest ``MAX_ROWS``)
for a sink to read, in place of the reference's
sink::collection<cluster_log_t> fan-out.
"""

from __future__ import annotations

import json
import resource
from collections import deque

from pyspark.sql.streaming import StreamingQueryListener

MAX_ROWS = 10_000

MONITOR_FIELDS = [
    "ts",
    "query_id",
    "batch_id",
    "input_rows",
    "input_rows_per_sec",
    "processed_rows_per_sec",
    "batch_duration_ms",
    "state_rows",
    "state_memory_bytes",
    "cpu_user_s",
    "cpu_sys_s",
    "mem_rss_kb",
]


class ClusterLogListener(StreamingQueryListener):
    """A6 analog over Structured Streaming progress events."""

    def __init__(self):
        self.rows: deque[dict] = deque(maxlen=MAX_ROWS)

    # -- StreamingQueryListener contract
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        try:
            p = json.loads(event.progress.json)
        except Exception:
            return
        ru = resource.getrusage(resource.RUSAGE_SELF)
        state_rows = sum(int(s.get("numRowsTotal", 0)) for s in p.get("stateOperators", []))
        state_mem = sum(int(s.get("memoryUsedBytes", 0)) for s in p.get("stateOperators", []))
        row = {
            "ts": p.get("timestamp"),
            "query_id": p.get("id"),
            "batch_id": p.get("batchId"),
            "input_rows": p.get("numInputRows", 0),
            "input_rows_per_sec": p.get("inputRowsPerSecond", 0.0),
            "processed_rows_per_sec": p.get("processedRowsPerSecond", 0.0),
            "batch_duration_ms": p.get("batchDuration", 0),
            "state_rows": state_rows,
            "state_memory_bytes": state_mem,
            "cpu_user_s": ru.ru_utime,
            "cpu_sys_s": ru.ru_stime,
            "mem_rss_kb": ru.ru_maxrss,
        }
        self.rows.append(row)
