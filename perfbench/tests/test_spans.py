"""Unit tests of the event-log fold and the RSS sampler.

Run from the repository root: python3 -m pytest perfbench/tests -q

The fixture is a trimmed recording of a traced run on local[4]: job 0
(no job group), span-4 (build_csr: stages 505-508, 507 skipped) and
span-7 (decode_csr_zuck: stages 520-522, 521 skipped).
"""

import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import RssSampler, fold_event_log  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def fold():
    with open(FIXTURE) as f:
        return fold_event_log(f)


def test_only_grouped_jobs_are_folded():
    assert set(fold()) == {"span-4", "span-7"}


def test_counters_sum_over_the_groups_stages():
    g = fold()["span-4"]
    assert g["stages"] == 2 + 1  # 505, 506, 508; 507 ran no task
    assert g["tasks"] == 10
    assert g["cpu_s"] == pytest.approx(0.942779421)
    assert g["run_s"] == pytest.approx(3.435)
    assert g["shuffle_write_bytes"] == 2_933_847
    assert g["shuffle_write_records"] == 402_013
    assert g["shuffle_read_bytes"] == 2_933_847
    assert g["spill_bytes"] == 0
    assert fold()["span-7"]["shuffle_write_records"] == 8


def test_a_reused_stage_stays_with_the_job_that_ran_it():
    with open(FIXTURE) as f:
        lines = f.readlines()
    lines.append(json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": 99, "Stage IDs": [508, 530],
        "Properties": {"spark.jobGroup.id": "span-9"}}))
    folded = fold_event_log(lines)
    assert folded["span-4"] == fold()["span-4"]
    assert "span-9" not in folded  # stage 530 ran no task


def test_task_skew_is_max_over_median_of_the_dominant_stage():
    # stage 508: task run times 214..614 ms, median (414 + 426) / 2
    assert fold()["span-4"]["task_skew"] == pytest.approx(614 / 420)
    # stage 520: median (449 + 461) / 2
    assert fold()["span-7"]["task_skew"] == pytest.approx(670 / 455)


def test_peak_heap_takes_the_largest_report():
    with open(FIXTURE) as f:
        lines = f.readlines()
    lines.append(json.dumps({
        "Event": "SparkListenerStageExecutorMetrics", "Executor ID": "driver",
        "Stage ID": 508, "Stage Attempt ID": 0,
        "Executor Metrics": {"JVMHeapMemory": 123_456_789}}))
    assert fold_event_log(lines)["span-4"]["peak_heap_bytes"] == 123_456_789
    assert fold_event_log(lines)["span-7"]["peak_heap_bytes"] == 0


def test_rss_sampler_keeps_the_peak_of_freed_memory():
    mb = 1 << 20
    with RssSampler(period=0.001) as rss:
        rss.reset()
        block = np.ones(64 * mb // 8)  # touched pages count toward RSS
        time.sleep(0.05)
        del block
        assert rss.peak_growth() >= 48 * mb
    rss._thread.join(timeout=5)
    assert not rss._thread.is_alive()
