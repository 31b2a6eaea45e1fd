import os

import pytest

from perfbench.tracing import ledger, read_event_log

# Recorded from a two-core local session: one noop write under job group
# "cut.scan.0" and one grouped count under "run-0"; events the reader does
# not use, and fields it does not read, were trimmed.
LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_are_attributed_by_group():
    log = read_event_log(LOG)
    assert {j.job_id: j.group for j in log.jobs.values()} == {
        0: "cut.scan.0", 1: "run-0", 2: "run-0"}
    assert log.jobs[2].stages == [2, 3]


def test_ledger_totals_per_group():
    log = read_event_log(LOG)
    scan = ledger(log, 2, lambda j: j.group == "cut.scan.0")
    assert (scan["jobs"], scan["tasks"], scan["shuffle_bytes"]) == (1, 2, 0)
    assert scan["wall_s"] == pytest.approx(0.233)
    run = ledger(log, 2, lambda j: j.group == "run-0")
    assert (run["jobs"], run["tasks"], run["shuffle_bytes"]) == (2, 3, 563)
    assert run["cpu_s"] == pytest.approx(0.152144826)
    # executor run time over (union of the two jobs' walls x 2 cores)
    assert run["slot_util"] == pytest.approx(0.5538116591928252)
    assert ledger(log, 2, lambda j: False)["jobs"] == 0
