"""The benchmark's own tests: the checker counts a corrupted result,
every workload runs all its checks at smoke size, and a checkout
without the package fails fast without printing a result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import namedtuple

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads  # noqa: E402

Row = namedtuple("Row", "doc_id position collection_name similarity")
Pair = namedtuple("Pair", "doc_a doc_b jaccard")


def _reference_rows(wl, colls, q):
    return [
        Row(doc_id, pos, coll, sim)
        for (doc_id, pos, coll), sim in wl._reference(colls, q)
    ]


def test_checker_counts_a_corrupted_search_result(tmp_path):
    wl = workloads.SearchOnline(None, str(tmp_path), seed=5, smoke=True)
    q = wl._query(np.random.default_rng(0), [0, 3, 4])
    good = _reference_rows(wl, [0, 3, 4], q)
    assert len(good) == workloads.TOP_K
    wl.op("multi_search", lambda: good, lambda rows: wl.check_search([0, 3, 4], q, rows))
    assert (wl.checker.attempted, wl.checker.failed) == (1, 0)

    off = list(good)
    off[3] = off[3]._replace(similarity=off[3].similarity + 1e-6)
    swapped = list(good)
    swapped[1], swapped[2] = swapped[2], swapped[1]
    for bad in (off, swapped, good[:-1]):
        wl.op("multi_search", lambda bad=bad: bad, lambda rows: wl.check_search([0, 3, 4], q, rows))
    assert (wl.checker.attempted, wl.checker.failed) == (4, 3)
    assert not wl.op("search", _raise, lambda rows: None)
    assert wl.checker.failed == 4 and "raised" in wl.checker.reasons[-1]

    # a wrong warm-up or set-up result is counted, not raised, and
    # leaves the measured operations alone
    ops, lat = wl.ops, dict(wl.lat)
    wl.op("warmup.multi_search", lambda: swapped,
          lambda rows: wl.check_search([0, 3, 4], q, rows), timed=False)
    wl.op("setup.store", _raise, lambda out: None, timed=False)
    assert (wl.checker.attempted, wl.checker.failed) == (7, 6)
    assert (wl.ops, dict(wl.lat)) == (ops, lat)


def _raise():
    raise RuntimeError("engine down")


def test_checker_counts_a_missing_planted_pair(tmp_path):
    wl = workloads.BatchBuild(None, str(tmp_path), seed=5, smoke=True)
    pairs = [Pair(a, b, oracle.jaccard(oracle.shingle_set(wl.texts[a]), oracle.shingle_set(wl.texts[b])))
             for a, b in sorted(wl.planted)]
    assert all(p.jaccard >= 0.8 for p in pairs)
    assert wl.check_pairs(pairs) is None
    assert "planted pairs missing" in wl.check_pairs(pairs[1:])
    a, b = next(iter(sorted(wl.planted)))
    unrelated = (a + 1) % len(wl.texts) if (a + 1) % len(wl.texts) != b else (a + 2) % len(wl.texts)
    assert "jaccard" in wl.check_pairs(pairs + [Pair(a, unrelated, 0.9)])


Hit = namedtuple("Hit", "query_id vec_id similarity")


def test_checker_counts_a_wrong_ivf_assignment_or_search(tmp_path):
    wl = workloads.BatchBuild(None, str(tmp_path), seed=5, smoke=True)
    centroids = wl.x[: wl.size["n_cells"]]
    cells = np.argmin(
        ((wl.x[:, None, :] - centroids[None, :, :]) ** 2).sum(-1), axis=1)
    assert wl.check_assignment(centroids, cells) is None
    moved = cells.copy()
    moved[7] = (moved[7] + 1) % len(centroids)
    assert "outside their nearest cell" in wl.check_assignment(centroids, moved)

    hits = [Hit(qi, v, sim) for qi, q in enumerate(wl.queries)
            for v, sim in wl.ivf_reference(centroids, cells, q)[1]]
    assert wl.check_ivf_search(centroids, cells, hits) is None
    wrong = list(hits)
    wrong[2] = wrong[2]._replace(vec_id=wrong[2].vec_id + 1)
    for bad in (wrong, hits[1:]):
        wl.op("ivf_search", lambda bad=bad: bad,
              lambda rows: wl.check_ivf_search(centroids, cells, rows))
    assert (wl.checker.attempted, wl.checker.failed) == (2, 2)


def test_seq_dot_matches_left_to_right_sum():
    rng = np.random.default_rng(1)
    mat, q = rng.standard_normal((5, 7)), oracle.normalize(rng.standard_normal(7))
    for row, got in zip(mat, oracle.seq_dot(mat, q)):
        acc = 0.0
        for x, y in zip(row.tolist(), q.tolist()):
            acc += x * y
        assert got == acc


def _run(cwd, *args):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _benchmark_names(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[key]}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_passes_every_check(workload):
    rc, out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", "1", "--smoke")
    assert rc == 0, out[-5:]
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == _benchmark_names("per_layer")
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_smoke_untraced_prints_end_to_end_metrics():
    rc, out = _run(ROOT, "--workload", "ingest_mixed", "--seed", "4", "--seconds", "1",
                   "--trace", "0", "--smoke")
    assert rc == 0, out[-5:]
    result = json.loads(out[-1])
    assert result["correct"]
    assert set(result["metrics"]) == _benchmark_names("end_to_end")
    printed = {line.split()[0] for line in out[:-1]}
    assert {"failed_frac", "store_p50_ms", "stored_bytes_per_user_byte"} <= printed


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(tmp_path, "--workload", "search_online", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    assert rc != 0
    assert not any(line.startswith("{") for line in out)
