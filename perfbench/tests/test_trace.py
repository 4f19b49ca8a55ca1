"""The event-log parser and span attribution, on a small committed log.

``data/eventlog.jsonl`` is a real Spark 4.1 event log, cut down to the
events and fields the parser reads. It holds one SQL aggregation (two
jobs, three AQE re-plans) followed by an RDD ``reduceByKey`` collected
and then counted (two jobs; the count skips the shuffle stage). The span
windows below bracket the two halves as the client recorded them.
"""

import os

import pytest

from perfbench.trace import Span, attribute, read_event_log, totals

DATA = os.path.join(os.path.dirname(__file__), "data")
SQL = (1792206533.0990202, 1792206537.817585)
RDD = (1792206538.117717, 1792206540.8022382)


def _spans():
    # the SQL operation has a call and a collect span; one window covers both
    return [
        Span("queries.relational", "call", SQL[0], SQL[0] + 1.0, op=1),
        Span("queries.relational", "collect", SQL[0] + 1.0, SQL[1], op=1),
        Span("hive_dataset.write", "call", *RDD, op=2),
    ]


@pytest.fixture(scope="module")
def log():
    return read_event_log(DATA)


def test_parser_reads_jobs_stages_and_tasks(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[1].stages == [1, 2]
    assert log.jobs[2].end == pytest.approx(1792206540.414)
    # stage 1 was skipped by the AQE re-plan: no task ended in it
    assert 1 not in log.stage_metrics
    assert log.stage_metrics[0]["tasks"] == 2
    assert log.stage_metrics[0]["executor_run_s"] == pytest.approx(0.503)
    assert log.stage_metrics[0]["shuffle_bytes"] == 266
    assert len(log.aqe_updates) == 3


def test_attribution_by_time_window(log):
    got = attribute(_spans(), log)
    sql, rdd = got["queries.relational"], got["hive_dataset.write"]
    assert sql["jobs"] == 2 and rdd["jobs"] == 2
    assert sql["tasks"] == 3 and rdd["tasks"] == 6
    assert sql["executor_run_s"] == pytest.approx(0.606)
    assert rdd["executor_run_s"] == pytest.approx(4.604)
    assert sql["shuffle_bytes"] == 266 and rdd["shuffle_bytes"] == 292
    # wall time minus the union of the window's job spans
    assert sql["driver_gap_s"] == pytest.approx((SQL[1] - SQL[0]) - 0.692 - 0.245)
    assert rdd["driver_gap_s"] == pytest.approx((RDD[1] - RDD[0]) - 2.191 - 0.342)


def test_totals_cover_only_the_window(log):
    whole = totals(log, SQL[0], RDD[1])
    assert whole["tasks"] == 9
    assert whole["gc_s"] == pytest.approx(0.124)
    assert whole["aqe_replans"] == 3
    second = totals(log, *RDD)
    assert second["tasks"] == 6
    assert second["aqe_replans"] == 0
    assert second["output_bytes"] == 0
