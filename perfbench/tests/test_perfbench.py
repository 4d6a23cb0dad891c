"""Fast tests of the benchmark's own machinery, on tiny corpora.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, corpora, eventlog, harness, metrics  # noqa: E402


def _shingles(text: str, k: int = 5) -> set[str]:
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


# --- planted truth ---------------------------------------------------------

def test_dense_dups_truth_is_far_from_threshold():
    c = corpora.dense_dups(seed=3, n_docs=400, hot_size=60)
    assert c.n_docs == 400
    assert max(len(g) for g in c.groups) == 60
    for g in c.groups:
        for d in g[1:]:
            assert _jaccard(c.texts[g[0]], c.texts[d]) >= 0.95
            assert c.texts[g[0]] != c.texts[d]
    assert c.must_not
    for a, b in c.must_not:
        assert _jaccard(c.texts[a], c.texts[b]) < 0.5
    assert corpora.dense_dups(3, 400, 60).texts == c.texts


def test_chain_pages_keeps_pages_truth():
    p, c = corpora.pages(5, 300), corpora.chain_pages(5, 300)
    assert c.groups == p.groups and c.must_not == p.must_not
    for g in c.groups:
        for d in g[1:]:
            assert _jaccard(c.texts[g[0]], c.texts[d]) >= 0.8
    for a, b in c.must_not:
        assert _jaccard(c.texts[a], c.texts[b]) < 0.8
    # the funnel's quality tier needs stopwords and letters-only tokens
    assert all(t.startswith("the a ") and not re.search(r"\d", t)
               for t in c.texts)


# --- output checks ---------------------------------------------------------

def _labels(pairs: dict[int, int]) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": list(pairs), "cluster_id": list(pairs.values())})


def test_pair_recall_counts_pairs_per_cluster():
    groups = [[1, 2, 3, 4], [5, 6]]
    assert checks.pair_recall({1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}, groups) == 1
    # {1,2} and {3,4} split: 2 of the group's 6 pairs plus the 1 intact pair
    assert checks.pair_recall({1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5},
                              groups) == pytest.approx(3 / 7)
    # unclustered docs pair with nobody
    assert checks.pair_recall({5: 5, 6: 5}, groups) == pytest.approx(1 / 7)


def test_check_clusters_flags_lost_recall_and_merged_must_not():
    c = corpora.Corpus(texts=[""] * 6, groups=[[0, 1, 2]], must_not=[(3, 4)])
    ok = _labels({0: 0, 1: 0, 2: 0})
    assert checks.check_clusters(ok, c) == (1.0, [])
    split = _labels({0: 0, 1: 0, 2: 2})
    recall, problems = checks.check_clusters(split, c)
    assert recall == pytest.approx(1 / 3) and "recall" in problems[0]
    merged = _labels({0: 0, 1: 0, 2: 0, 3: 3, 4: 3})
    assert checks.check_clusters(merged, c)[1] == ["1 must-not-pair pairs merged"]


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": [0.5, 0.25]})
    b = pd.DataFrame({"y": [0.25, 0.5], "x": [2, 1]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.digest(a) != checks.digest(a.assign(y=[0.5, 0.26]))


# --- event-log reader (synthetic log, no Spark) ----------------------------

def _write_log(path: Path, events: list[dict]) -> Path:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return path


def _task(stage: int, run_ms: int, wrote: int, py_ms: int | None = None) -> dict:
    acc = [] if py_ms is None else [{"Name": eventlog.PYTHON_TIME,
                                     "Update": str(py_ms)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Local Bytes Read": 0,
                                                      "Remote Bytes Read": 0},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": wrote}}}


def test_eventlog_joins_tasks_to_the_group_that_ran_their_stage(tmp_path):
    mb = 1 << 20
    log = _write_log(tmp_path / "app", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 1000, mb, py_ms=250),
        _task(1, 500, 0),
        # stage 1 reappears (skipped) in group b's job: its tasks stay a's
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        _task(2, 2000, 3 * mb),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3]},
        _task(3, 10, 0),
    ])
    g = eventlog.read_groups(log)
    assert (g["a"].jobs, g["a"].tasks, g["b"].jobs, g["b"].tasks) == (1, 2, 1, 1)
    assert g["a"].executor_run_s == pytest.approx(1.5)
    assert g["a"].python_s == pytest.approx(0.25)
    assert g["a"].shuffle_write_mb == pytest.approx(1)
    assert g["b"].shuffle_write_mb == pytest.approx(3)
    assert g[""].jobs == 1


# --- metric names ------------------------------------------------------------

def test_benchmark_json_lists_exactly_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.per_layer()


def test_summary_reports_high_percentile_only_with_ten_beyond_it():
    assert metrics.summary([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3, "p_hi": None}
    s = metrics.summary([float(i) for i in range(1, 41)])
    assert s["p_hi"]["pct"] == 75.0 and s["median"] == 20.5


# --- Spark: job-group counter, traced pass, event-log join -------------------

@pytest.fixture(scope="module")
def spark():
    harness.prepare_env()
    s = harness.start_session(event_log=True)
    yield s
    harness.shutdown(None)


def test_job_groups_count_exactly(spark):
    groups = harness.JobGroups(spark)
    rdd = spark.sparkContext.parallelize(range(100), 2)   # one job per action
    with groups.group("t:a"):
        for _ in range(3):
            rdd.count()
    with groups.group("t:b"):
        rdd.collect()
    assert (groups.jobs("t:a"), groups.jobs("t:b")) == (3, 1)
    assert groups.jobs("t:none") == 0


def test_traced_pass_matches_untraced_and_passes_checks(spark, tmp_path):
    from perfbench import workloads

    wl = workloads.DedupWorkload(
        "tiny", lambda s: corpora.dense_dups(s, 300, 40))
    corpus = wl.write(tmp_path, seed=1)
    ctx = workloads.Ctx(spark, harness.JobGroups(spark), corpus, tmp_path,
                        tmp_path)
    untraced = wl.run_op("run_dedup", ctx)
    tracer = harness.Tracer(ctx.groups, "tiny")
    outs, hot = wl.traced_pass(tracer, ctx)
    assert wl.check("run_dedup", untraced, ctx) == ([], {"pair_recall": 1.0})
    traced = outs["run_dedup"]
    assert checks.digest(traced["clusters"]) == checks.digest(untraced["clusters"])
    names = [s.name for s in tracer.spans]
    assert names == ["run_dedup", "exact_collapse", "signature", "candidates",
                     "verify", "cc"]
    assert all(s.parent == 0 for s in tracer.spans[1:])
    assert tracer.self_s(0) >= 0 and hot == 0
    spark.catalog.clearCache()


def test_eventlog_join_matches_job_groups(spark):
    """Runs last in this module: the log is complete only once the session
    stops."""
    import time as _time

    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def slow(s):
        _time.sleep(0.05)
        return s

    groups = harness.JobGroups(spark)
    with groups.group("t:shuffle"):
        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    with groups.group("t:python"):
        spark.range(8, numPartitions=2).select(slow("id")).collect()
    n_shuffle = groups.jobs("t:shuffle")
    app = spark.sparkContext.applicationId
    spark.stop()
    ev = eventlog.read_groups(eventlog.find_log(harness.WORK / "eventlog", app))
    assert ev["t:shuffle"].jobs == n_shuffle
    assert ev["t:shuffle"].shuffle_write_mb > 0
    assert ev["t:python"].python_s >= 0.05
    assert ev["t:python"].shuffle_write_mb == 0
