"""Live progress + changed-status logging (A5/A6).

Reference analogues:

- ``utils/ProgressTracker.java:17-26`` — a callback interface
  ``updateProgress(progress, target)`` the importer calls per feature.
  Spark-first translation: you cannot call back per row from executors,
  but the driver can observe every stage's task progress live through
  ``SparkContext.statusTracker()`` — :func:`track_progress` polls it on
  a daemon thread and invokes the callback with (completed, total) task
  counts per active stage. No executor-side hooks, no accumulee contention.
- ``utils/ChangingStatusLogger.java:36-110`` — a periodic logger that
  re-logs a templated status line ONLY when its parameters changed.
  :class:`ChangingStatusLogger` reproduces that contract (template +
  mutable params, deep-compare against the previous copy, periodic
  daemon thread), used to surface the progress counts without log spam.
"""

from __future__ import annotations

import logging
import threading
import time
from collections.abc import Callable

_log = logging.getLogger(__name__)


class ChangingStatus:
    """Template + mutable params; logs only when the params changed
    (ChangingStatusLogger.ChangingStatusDefault semantics)."""

    def __init__(self, template: str, param_count: int):
        self.template = template
        self.params: list = [None] * param_count
        self._previous: tuple | None = None

    def set_all_to(self, value) -> None:
        for i in range(len(self.params)):
            self.params[i] = value

    def set_param(self, idx: int, value) -> None:
        self.params[idx] = value

    def log_if_changed(self, log: Callable[[str], None]) -> bool:
        current = tuple(self.params)
        if current != self._previous:
            self._previous = current
            log(self.template.format(*current))
            return True
        return False


class ChangingStatusLogger:
    """Periodically polls registered statuses, logging each only when it
    changed. ``log`` defaults to this module's logger at INFO."""

    def __init__(
        self, log: Callable[[str], None] = _log.info, interval: float = 1.0
    ):
        self.log = log
        self.interval = interval
        self._statuses: list[ChangingStatus] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def add_status(self, status: ChangingStatus) -> "ChangingStatusLogger":
        self._statuses.append(status)
        return self

    def remove_status(self, status: ChangingStatus) -> None:
        self._statuses.remove(status)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            for s in list(self._statuses):
                s.log_if_changed(self.log)

    def start(self) -> "ChangingStatusLogger":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop the thread; flush one final log for changed statuses
        (reference stops the executor then logs the final state)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        for s in list(self._statuses):
            s.log_if_changed(self.log)


class track_progress:
    """Context manager: while a Spark action runs inside the block, poll
    ``sc.statusTracker()`` and invoke ``callback(stage_id, completed,
    total)`` whenever an active stage's completed-task count changes —
    the driver-side equivalent of the reference's per-feature
    ``updateProgress(progress, target)``."""

    def __init__(
        self,
        spark,
        callback: Callable[[int, int, int], None],
        interval: float = 0.25,
    ):
        self.spark = spark
        self.callback = callback
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._last: dict[int, int] = {}

    def _poll(self) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        while not self._stop.wait(self.interval):
            try:
                for sid in tracker.getActiveStageIds():
                    info = tracker.getStageInfo(sid)
                    if info is None:
                        continue
                    done = info.numCompletedTasks
                    if self._last.get(sid) != done:
                        self._last[sid] = done
                        self.callback(sid, done, info.numTasks)
            except Exception:  # session shutting down mid-poll
                return

    def __enter__(self) -> "track_progress":
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
