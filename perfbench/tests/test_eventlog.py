import os

from eventlog import event_files, fold_dir, layer_metrics

# Recorded from PySpark 4.1 on local[2] with the event log on: two jobs under
# job group q_tiny (3 tasks) and one micro-batch of a foreachBatch stream
# (1 task writing 2 records). Trimmed to the events and fields the fold reads.
LOG_DIR = os.path.join(os.path.dirname(__file__), "data")
STREAM_BATCH = "9f7a93b4-4b19-4be8-ab35-930ad35c52b9:0"


def test_rolling_layout_is_found():
    files = event_files(LOG_DIR)
    assert [os.path.basename(f) for f in files] == ["events_1_local-tiny"]


def test_fold_groups_jobs_and_tasks():
    folded = fold_dir(LOG_DIR)
    q = folded["groups"]["q_tiny"]
    assert q["jobs"] == 2
    assert q["tasks"] == 3
    assert q["executor_run_ms"] == 283 + 289 + 89
    # tasks 0 and 1 overlap (462 ms together), task 2 runs 146 ms later
    assert q["busy_ms"] == 462 + 146
    # the stream's job group is its run id; it must not become a group
    assert set(folded["groups"]) == {"q_tiny", "stream"}
    b = folded["batches"][STREAM_BATCH]
    assert (b["jobs"], b["tasks"], b["records_written"]) == (1, 1, 2)


def test_driver_time_is_wall_minus_busy():
    q = fold_dir(LOG_DIR)["groups"]["q_tiny"]
    m = layer_metrics("recon", q, wall_ms=1000.0, n=1)
    assert m["spark.recon.driver_ms"] == 1000.0 - 608
    assert m["spark.recon.jobs"] == 2
    assert layer_metrics("recon", {}, 1000.0, 1)["spark.recon.jobs"] == 0.0
