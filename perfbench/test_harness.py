"""Tests for the benchmark's own harness.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import eventlog
from perfbench import harness as H


@pytest.fixture(scope="module")
def spark():
    H.prepare_process()
    s = H.start_session(2)
    yield s
    s.stop()


def test_release_keeps_checkpointed_corpus(spark):
    """Releasing the blocks a crawl created must leave the corpus that
    set-up checkpointed readable: a second crawl over it still runs."""
    from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from seo_crawler_spark.sources.corpus import generate_corpus, seed_urls

    corpus = generate_corpus(spark, n_docs=60, n_hosts=2, seed=3).localCheckpoint(eager=True)
    n_docs = corpus.count()
    keep = H.persistent_rdd_ids(spark)
    cfg = CrawlConfig(max_depth=1, crawl_external=True, respect_robots=False)
    pages = []
    for _ in range(2):
        result = CrawlEngine(spark, corpus, None, cfg).run(seed_urls(2))
        pages.append(result.pages.count())
        assert H.release_new_blocks(spark, keep) > 0
        assert H.persistent_rdd_ids(spark) == keep
        assert corpus.count() == n_docs
    assert pages[0] == pages[1] > 0


def test_eventlog_attribution(tmp_path):
    """Jobs go to the span their description names, else to the span open
    at submission; no_task_frac is the untasked share of the span."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": "w/op"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10,
                          "Shuffle Read Metrics": {"Local Bytes Read": 5},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1500, "Finish Time": 1600},
         "Task Metrics": {"Executor Run Time": 100}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    spans = [
        {"id": 1, "name": "op", "label": "w/op", "parent": None, "start": 1.0, "end": 2.0},
        {"id": 2, "name": "x", "label": "w/op/x", "parent": 1, "start": 1.45, "end": 1.7},
    ]
    rows = eventlog.summarize(str(log), spans)
    assert rows["w/op"]["jobs"] == 1 and rows["w/op/x"]["jobs"] == 1
    assert rows["w/op"]["shuffle_read_bytes"] == 5
    assert rows["w/op"]["shuffle_write_bytes"] == 7
    assert rows["w/op"]["no_task_frac"] == pytest.approx(0.5)
    assert eventlog.rollup(rows, "w/op")["executor_run_s"] == pytest.approx(0.5)


def test_refuses_checkout_without_package(tmp_path):
    """Without the package next to it the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    src = os.path.dirname(os.path.abspath(__file__))
    for name in os.listdir(src):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(src, name)).read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
