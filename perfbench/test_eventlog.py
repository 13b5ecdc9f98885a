"""Unit tests of the event-log fold on a committed fragment.

The fragment holds two jobs of a Spark 4.1 session: a pandas UDF stage
(two tasks) feeding an aggregation (one task), plus one event the fold
ignores.  Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

import os

import pytest

from eventlog import fold

FRAGMENT = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_fragment.jsonl")
ALL = [(0, 2e12)]
FIRST_JOB = [(1792208001000, 1792208002000)]  # epoch ms around job 0


def test_totals_over_the_whole_log():
    m = fold(FRAGMENT, ALL)
    assert m["jobs"] == 2
    assert m["tasks"] == 3
    assert m["executor_run_s"] == pytest.approx(6.561)
    assert m["executor_cpu_s"] == pytest.approx(1.258170228)
    assert m["gc_s"] == pytest.approx(0.118)
    # PythonSQLMetrics of the UDF stage: run time, worker start + init,
    # and the Arrow bytes each way
    assert m["python_total_s"] == pytest.approx(5.455)
    assert m["python_boot_s"] == pytest.approx(5.436)
    assert m["python_data_sent_bytes"] == 7704
    assert m["python_data_received_bytes"] == 7576
    # every byte the UDF stage shuffled out, the aggregation read back
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 5656
    assert m["spill_bytes"] == 0
    assert m["peak_exec_mem_bytes"] == 67370992  # largest single task


def test_window_keeps_only_the_first_job():
    m = fold(FRAGMENT, FIRST_JOB)
    assert m["jobs"] == 1
    assert m["tasks"] == 2
    assert m["shuffle_read_bytes"] == 0
    assert m["shuffle_write_bytes"] == 5656
    assert m["python_total_s"] == pytest.approx(5.455)
    assert m["peak_exec_mem_bytes"] == 262144


def test_empty_window_folds_to_zero():
    m = fold(FRAGMENT, [(0, 1)])
    assert all(v == 0 for v in m.values())
