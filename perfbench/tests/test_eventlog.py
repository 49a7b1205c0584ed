import os

from eventlog import reduce_jobs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_reduces_tiny_log_to_jobs():
    with open(FIXTURE) as f:
        jobs = reduce_jobs(f)
    assert [j["job"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0["group"] is None and j1["group"] == "q42#0"
    assert (j0["submit_ms"], j0["end_ms"], j0["ok"]) == (1000, 1500, True)
    # stage 1 of job 0 completed; stage 0 was skipped (no completion event)
    assert j0["stages"] == 1
    assert j0["tasks"] == 2
    assert j0["executor_run_ms"] == 30 + 50
    assert j0["shuffle_read_bytes"] == (100 + 20) + (0 + 5)
    assert j0["shuffle_write_bytes"] == 0
    assert (j1["stages"], j1["tasks"], j1["executor_run_ms"]) == (1, 1, 7)
    assert j1["shuffle_write_bytes"] == 640
    assert j1["ok"] is False


def test_blank_lines_and_unknown_events_are_ignored():
    jobs = reduce_jobs(["", '{"Event": "SparkListenerApplicationStart"}\n'])
    assert jobs == []
