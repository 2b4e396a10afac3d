"""The benchmark's own arithmetic: tail percentile, self time, rates
and the failed-operation share."""

from __future__ import annotations

import math

import pytest

from spans import NullTracer
from stats import OpLog, OpRecord, mean, self_times, tail_percentile, union_length
from workloads import CheckFailed, Op, Runner


def test_tail_percentile_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]          # 1..100
    pct, value, n = tail_percentile(samples)
    assert (pct, value, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_with_few_samples():
    assert tail_percentile([1.0] * 10) is None
    pct, value, n = tail_percentile([5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},     # grandchild: only 1 loses it
        {"id": 3, "parent": 0, "start": 3.0, "end": 6.0},     # overlaps 1 (engine threads)
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},    # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)


def _log(*recs) -> OpLog:
    log = OpLog()
    for r in recs:
        log.add(r)
    return log


def test_rates_come_from_the_operation_log():
    log = _log(
        OpRecord("jaccard", "j", 2.0, True, work=8000),
        OpRecord("minhash", "m", 4.0, True, work=8000),
        OpRecord("jaccard", "j", 2.0, True, work=8000),
        OpRecord("minhash", "m", 1.0, False, "boom", work=8000),
    )
    assert log.busy_s == 9.0
    assert log.ops_per_s() == pytest.approx(3 / 9)
    assert log.work_per_s("jaccard") == pytest.approx(16000 / 4)
    assert log.work_per_s("minhash") == pytest.approx(8000 / 4)
    assert log.latencies("minhash") == [4.0]
    # a metric's class may span several kinds (olap_mix's dedup calls)
    assert log.latencies("jaccard", "minhash") == [2.0, 4.0, 2.0]
    assert mean(log.latencies("jaccard", "minhash")) == pytest.approx(8 / 3)
    assert math.isnan(mean(log.latencies("read")))


def test_workload_timings_come_from_the_operation_log():
    from workloads import NslPipeline, OlapMix

    olap = _log(OpRecord("read", "q01", 1.0, True), OpRecord("read", "q03", 3.0, True),
                OpRecord("write", "w", 0.5, True), OpRecord("jaccard", "j", 2.0, True),
                OpRecord("minhash", "m", 4.0, True))
    assert OlapMix.timings(olap) == {"primary": 2.0, "secondary": 0.5, "tertiary": 3.0}
    # nsl: time to the model, to the metrics, to the exported predictions
    nsl = _log(OpRecord("fit", "kmeans_rf", 10.0, True), OpRecord("score", "m", 1.0, True),
               OpRecord("write", "predictions", 0.5, True))
    assert NslPipeline.timings(nsl) == {"primary": 10.0, "secondary": 11.0, "tertiary": 11.5}
    assert all(math.isnan(v) for v in NslPipeline.timings(OpLog()).values())


def test_failed_share_counts_raises_and_failed_checks():
    def bad_check(_):
        raise CheckFailed("wrong rows")

    def raises():
        raise RuntimeError("engine error")

    runner, log = Runner(NullTracer()), OpLog()
    runner.execute(Op("read", "ok", lambda: 1, lambda r: {"rows": r}), log)
    runner.execute(Op("read", "raises", raises), log)
    runner.execute(Op("read", "wrong", lambda: 2, bad_check), log)
    runner.execute(Op("write", "ok", lambda: None), log)
    assert (log.attempted, log.failed) == (4, 2)
    assert log.failed_frac == 0.5
    assert [r.ok for r in log.records] == [True, False, False, True]
    assert "engine error" in log.records[1].error and "wrong rows" in log.records[2].error
    assert runner.extras[0] == {"rows": 1}
    assert log.ops_per_s() == pytest.approx(2 / log.busy_s)


class _Store:
    """Status-store contents in the REST API's shape."""

    jobs = [
        {"jobId": 0, "jobGroup": "perfbench-span-1", "stageIds": [0],
         "submissionTime": "2026-01-01T00:00:01.000GMT", "completionTime": "2026-01-01T00:00:02.000GMT"},
        # no group (a thread the engine started): the innermost open span
        {"jobId": 1, "jobGroup": None, "stageIds": [0, 1],
         "submissionTime": "2026-01-01T00:00:03.500GMT", "completionTime": "2026-01-01T00:00:04.000GMT"},
    ]
    stages = [
        {"stageId": 0, "attemptId": 0, "numCompleteTasks": 4, "numFailedTasks": 1,
         "executorRunTime": 2000, "executorCpuTime": 1_500_000_000, "schedulerDelayMs": 30},
        {"stageId": 1, "attemptId": 0, "numCompleteTasks": 2, "numFailedTasks": 0,
         "executorRunTime": 500, "executorCpuTime": 400_000_000, "shuffleReadBytes": 10},
    ]
    sql = [{"successJobIds": [1], "nodes": [
        {"nodeName": "Scan csv", "metrics": [{"name": "size of files read", "value": "1.5 KiB"},
                                             {"name": "number of output rows", "value": "1,234"}]}]}]


def test_status_store_counters_go_to_the_span_that_caused_them():
    from counters import attribute, parse_time

    t0 = parse_time("2026-01-01T00:00:00.000GMT")
    spans = [
        {"id": 0, "parent": None, "start": t0, "end": t0 + 10},
        {"id": 1, "parent": 0, "start": t0 + 0.5, "end": t0 + 2.5},
        {"id": 2, "parent": 0, "start": t0 + 3, "end": t0 + 5},
    ]
    got = attribute(_Store(), spans)
    s1, s2 = got["span"][1], got["span"][2]
    # stage 0 is listed by both jobs; it ran in the first
    assert (s1["jobs"], s1["stages"], s1["tasks"], s1["tasks_failed"]) == (1, 1, 5, 1)
    assert s1["executor_run_s"] == 2.0 and s1["executor_cpu_s"] == 1.5
    assert s1["scheduler_delay_s"] == pytest.approx(0.03)
    assert (s2["jobs"], s2["stages"], s2["tasks"], s2["shuffle_read_bytes"]) == (1, 1, 2, 10)
    assert got["jobs"] == [(1, t0 + 1, t0 + 2), (2, t0 + 3.5, t0 + 4)]
    assert got["nodes"] == [(2, "Scan csv", {"size of files read": 1536.0, "number of output rows": 1234.0})]
