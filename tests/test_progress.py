"""A5/A6: live progress via statusTracker polling + changed-status
logging (ProgressTracker.java:17-26, ChangingStatusLogger.java:36-110)."""

import time

from gjspark.plans.progress import (
    ChangingStatus,
    ChangingStatusLogger,
    track_progress,
)


def test_changing_status_logs_only_on_change():
    lines = []
    s = ChangingStatus("created {} updated {}", 2)
    s.set_all_to(0)
    s.log_if_changed(lines.append)
    s.log_if_changed(lines.append)  # unchanged -> no new line
    s.set_param(0, 5)
    s.log_if_changed(lines.append)
    assert lines == ["created 0 updated 0", "created 5 updated 0"]


def test_changing_status_logger_thread():
    lines = []
    s = ChangingStatus("n={}", 1)
    s.set_all_to(0)
    logger = ChangingStatusLogger(log=lines.append, interval=0.05).add_status(s)
    logger.start()
    time.sleep(0.15)
    s.set_param(0, 1)
    time.sleep(0.15)
    logger.stop()
    # one line per distinct state, no periodic spam
    assert lines == ["n=0", "n=1"]


def test_changing_status_logger_defaults_to_logging(caplog):
    s = ChangingStatus("n={}", 1)
    s.set_all_to(3)
    logger = ChangingStatusLogger(interval=60).add_status(s)
    with caplog.at_level("INFO", logger="gjspark.plans.progress"):
        logger.stop()  # flushes the changed status once
    assert [r.getMessage() for r in caplog.records] == ["n=3"]


def test_track_progress_observes_stages(spark):
    import pandas as pd

    updates = []

    def slowish(it):
        for pdf in it:
            time.sleep(0.05)
            yield pdf

    df = spark.range(0, 64, 1, 32).toDF("id")
    with track_progress(spark, lambda sid, done, total: updates.append((done, total))):
        df.mapInPandas(slowish, "id long").count()
    assert updates, "no progress observed"
    dones = [d for d, _ in updates]
    assert dones == sorted(dones) or len(set(dones)) > 1
    assert all(t >= 1 for _, t in updates)
