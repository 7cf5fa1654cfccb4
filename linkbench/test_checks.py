"""Each output check accepts the reference result and rejects a corrupted one.

    python3 -m pytest linkbench/test_checks.py -q

No Spark is started: the checks take plain arrays.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pytest

from linkbench import checks, oracles
from linkbench.checks import CheckError
from linkbench.workloads import copurchase_edges

# two components: a 4-clique {10, 11, 12, 13} and a path 20 - 21 - 22
SRC = np.array([10, 10, 10, 11, 11, 12, 20, 21], np.int64)
DST = np.array([11, 12, 13, 12, 13, 13, 21, 22], np.int64)


def test_extraction_rejects_missing_extra_and_duplicate_edges():
    checks.extraction(DST, SRC, DST, SRC)
    with pytest.raises(CheckError):
        checks.extraction(DST[1:], SRC[1:], DST, SRC)
    with pytest.raises(CheckError):
        checks.extraction(np.append(DST, 99), np.append(SRC, 10), DST, SRC)
    with pytest.raises(CheckError):
        checks.extraction(np.append(DST, DST[0]), np.append(SRC, SRC[0]),
                          np.append(DST, DST[0]), np.append(SRC, SRC[0]))


def test_pagerank_rejects_perturbed_rank_missing_vertex_and_wrong_steps():
    ref = oracles.pagerank(SRC, DST, tol=checks.PR_TOL)
    vids, pr, k = ref
    shuffled = np.random.default_rng(0).permutation(len(vids))
    checks.pagerank(vids[shuffled], pr[shuffled], k, ref, "pr")
    bad = pr.copy()
    bad[2] += 1e-4
    with pytest.raises(CheckError):
        checks.pagerank(vids, bad, k, ref, "pr")
    with pytest.raises(CheckError):
        checks.pagerank(vids[1:], pr[1:], k, ref, "pr")
    with pytest.raises(CheckError):
        checks.pagerank(vids, pr, k + 1, ref, "pr")


def test_pagerank_oracle_fixed_steps_and_convergence():
    vids, pr, k = oracles.pagerank(SRC, DST, steps=3)
    assert k == 3 and len(vids) == 7
    # 13 and 22 are sinks; a vertex nobody links to keeps the teleport mass
    assert pr[list(vids).index(10)] == pytest.approx(0.15)
    _, pr_conv, k_conv = oracles.pagerank(SRC, DST, tol=1e-9)
    assert k_conv > 3 and np.all(pr_conv >= 0.15)


def test_traversal_rejects_wrong_total():
    checks.traversal(24, 8, 3, "pr")
    with pytest.raises(CheckError):
        checks.traversal(23, 8, 3, "pr")


def test_components_rejects_wrong_label_and_missing_vertex():
    ref = oracles.components(SRC, DST)
    assert ref == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20}
    vids = np.array(list(ref))
    labels = np.array(list(ref.values()))
    checks.components(vids, labels, ref)
    bad = labels.copy()
    bad[-1] = 21
    with pytest.raises(CheckError):
        checks.components(vids, bad, ref)
    with pytest.raises(CheckError):
        checks.components(vids[:-1], labels[:-1], ref)


def _lp_labels(ref):
    vids = np.array(list(ref), np.int64)
    seeds = oracles.xxhash64(vids)
    comp = np.array(list(ref.values()))
    return vids, np.array([seeds[comp == c].min() for c in comp], np.int64)


def test_label_partition_rejects_merged_and_non_seed_labels():
    ref = oracles.components(SRC, DST)
    vids, labels = _lp_labels(ref)
    checks.label_partition(vids, labels, ref)
    merged = np.full_like(labels, labels.min())
    with pytest.raises(CheckError):
        checks.label_partition(vids, merged, ref)
    shifted = labels + 1  # same partition, but no label is a member's seed
    with pytest.raises(CheckError):
        checks.label_partition(vids, shifted, ref)
    seeds = oracles.xxhash64(vids)
    comp = np.array(list(ref.values()))
    not_min = np.array([seeds[comp == c].max() for c in comp], np.int64)
    with pytest.raises(CheckError):
        checks.label_partition(vids, not_min, ref)


def test_resumed_rejects_a_run_that_did_not_resume():
    checks.resumed(1, 1, True)
    for bad in ((2, 1, True), (1, None, True), (1, 1, False)):
        with pytest.raises(CheckError):
            checks.resumed(*bad)


def test_same_labels_rejects_a_difference():
    vids, labels = np.array([3, 1, 2]), np.array([7, 5, 6])
    checks.same_labels(vids, labels, vids[::-1], labels[::-1], "lp")
    with pytest.raises(CheckError):
        checks.same_labels(vids, labels, vids, np.array([7, 5, 5]), "lp")


def test_triangles_oracle_and_check():
    # the 4-clique holds 4 triangles; reversed and repeated edges change nothing
    assert oracles.triangles(np.append(SRC, 13), np.append(DST, 10)) == 4
    checks.triangles(4, 4)
    with pytest.raises(CheckError):
        checks.triangles(5, 4)


# Spark 4.1 ``SELECT xxhash64(CAST(x AS BIGINT))`` (default seed 42)
SPARK_XXHASH64 = {
    0: -5252525462095825812,
    1: -7001672635703045582,
    -1: 3858142552250413010,
    42: -6876166290308861218,
    1000000: 6087480646152566239,
    1019367: 6259266096619806206,
    4611686018427400249: 7198959281659964817,
    -9223372036854775808: -8619748838626508300,
}


def test_xxhash64_matches_spark():
    got = oracles.xxhash64(np.array(list(SPARK_XXHASH64), np.int64))
    assert got.tolist() == list(SPARK_XXHASH64.values())


def test_corpus_links_match_the_rendered_pages():
    from drone_spark.corpus import _gen_one

    n = 300
    src, dst = oracles.corpus_links(n, 42)
    ids = oracles.page_ids(n)
    got = set(zip(ids[src].tolist(), ids[dst].tolist()))
    want = set()
    for idx in range(n):
        url, _ts, html, _text, _lang = _gen_one(idx, n, 42)
        for href in re.findall(r'<a href="([^"]*)"', html.decode()):
            want.add((oracles.url_id(url), oracles.url_id(href)))
    assert got == want and len(src) == len(got)


def test_copurchase_graph_is_seeded_and_has_several_components():
    s1, d1 = copurchase_edges(3)
    s2, d2 = copurchase_edges(3)
    assert np.array_equal(s1, s2) and np.array_equal(d1, d2)
    assert np.all(s1 < d1)
    assert len(set(oracles.components(s1, d1).values())) > 1
    s3, _ = copurchase_edges(4)
    assert len(s3) != len(s1) or not np.array_equal(s3, s1)


def test_eventlog_parse_and_driver_serial_time(tmp_path):
    from linkbench.trace import _union_seconds, parse_eventlog

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pagerank#1|s3"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "2048"},
             {"Name": "time to run Python workers", "Update": 250}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10,
                          "Shuffle Read Metrics": {"Local Bytes Read": 5,
                                                   "Remote Bytes Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                          "Input Metrics": {"Bytes Read": 13}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = parse_eventlog(str(log))
    assert jobs[0] == {"group": "pagerank#1|s3", "start": 1.0, "end": 2.0, "stages": [0, 1]}
    assert set(stages) == {0}  # stage 1 never completed: skipped
    st = stages[0]
    assert (st["tasks"], st["run_s"], st["cpu_s"], st["gc_s"]) == (1, 0.4, 0.3, 0.01)
    assert (st["shuffle_read"], st["shuffle_write"], st["input_bytes"]) == (12, 11, 13)
    assert (st["py_sent"], st["py_returned"], st["py_run_s"]) == (2048, 0, 0.25)
    # overlapping and clipped job intervals inside a 0..10 s round
    assert _union_seconds([(1, 3), (2, 4), (6, 12), (-5, -1)], 0, 10) == 7
