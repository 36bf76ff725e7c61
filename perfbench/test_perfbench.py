"""Tests for the benchmark's own pure helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark session is started here.
"""

from __future__ import annotations

import csv
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 37, 100):
        xs = list(rng.exponential(1.0, n))
        for p in (0, 10, 50, 75, 90, 100):
            assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n,pct,ok",
    [(20, 50, True), (19, 50, False), (92, 90, True), (91, 90, False),
     (38, 75, True), (37, 75, False), (0, 50, False)],
)
def test_percentile_needs_ten_samples_beyond(n, pct, ok):
    assert stats.supports(n, pct) is ok
    if n:
        xs = sorted(range(n))
        beyond = sum(1 for x in xs if x > stats.percentile(xs, pct))
        assert (beyond >= stats.MIN_BEYOND) is ok


# ------------------------------------------------- intervals and self time

def test_union_merges_overlaps_and_skips_empty():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert stats.union_length([]) == 0


def test_clipped_union_only_counts_inside_window():
    assert stats.clipped_union([(-5, 1), (2, 3), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_children_once():
    # overlapping children (a thread's write inside the caller's wait) count once
    assert stats.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(10 - 5 - 2)
    assert stats.self_time(0, 10, []) == 10


# --------------------------------------------------------------- generator

QUERIES = ("a", "b", "c")


def test_plan_is_deterministic_per_seed():
    assert gen.etl_plan(3, QUERIES, 4) == gen.etl_plan(3, QUERIES, 4)
    assert gen.etl_plan(3, QUERIES, 4) != gen.etl_plan(4, QUERIES, 4)
    # the seed sets the inputs, not the order of the op kinds
    order = lambda plan: [(op.kind, op.query) for op in plan]  # noqa: E731
    assert order(gen.etl_plan(3, QUERIES, 4)) == order(gen.etl_plan(4, QUERIES, 4))


def test_plan_rounds_have_a_fixed_mix():
    n = gen.round_len(QUERIES)
    plan = gen.etl_plan(11, QUERIES, 5)
    assert len(plan) == 5 * n
    for r in range(5):
        rnd = plan[r * n:(r + 1) * n]
        kinds = [op.kind for op in rnd]
        assert kinds.count("reupload") == kinds.count("query") == len(QUERIES)
        assert sorted(op.query for op in rnd if op.kind == "query") == sorted(QUERIES)
        assert sum(op.fail_first for op in rnd) == 1
        large = [op for op in rnd if op.kind == "upload" and op.rows > 5 * gen.SMALL_ROWS]
        assert len(large) == len(QUERIES)
    seen = set()
    for op in plan:
        if op.kind == "reupload":
            target = plan[op.target]
            assert op.target < op.index and target.kind == "upload"
            assert target.rows < 5 * gen.SMALL_ROWS
            assert target.rows == op.rows and target.file_seed == op.file_seed
            assert op.target not in seen
            seen.add(op.target)


def _unparseable_rows(path: str) -> tuple[int, int]:
    rows = bad = 0
    with open(path, newline="") as f:
        for rec in csv.DictReader(f):
            rows += 1
            try:
                float(rec["l_quantity"])
            except ValueError:
                bad += 1
    return rows, bad


def test_corrupt_rows_match_the_generator_truth(tmp_path):
    f = gen.write_upload_csv(str(tmp_path / "u.csv"), 5000, 42)
    rows, bad = _unparseable_rows(f.path)
    assert rows == f.rows == 5000
    assert bad == f.corrupt > 0
    assert f.good == rows - bad
    fixed = gen.write_upload_csv(str(tmp_path / "fixed.csv"), 5000, 42, corrupt=False)
    assert _unparseable_rows(fixed.path) == (5000, 0)
    assert fixed.corrupt == 0 and fixed.good == 5000


def test_upload_files_are_deterministic_per_seed(tmp_path):
    a = gen.write_upload_csv(str(tmp_path / "a.csv"), 1000, 5)
    b = gen.write_upload_csv(str(tmp_path / "b.csv"), 1000, 5)
    c = gen.write_upload_csv(str(tmp_path / "c.csv"), 1000, 6)
    read = lambda u: open(u.path, "rb").read()  # noqa: E731
    assert read(a) == read(b) and a.corrupt == b.corrupt
    assert read(a) != read(c)


def test_tables_are_deterministic_and_sized():
    t1, t2 = gen.make_tables(9, 0.001), gen.make_tables(9, 0.001)
    rows = gen.table_rows(0.001)
    assert set(t1) == set(gen.TABLE_NAMES)
    for name in gen.TABLE_NAMES:
        assert t1[name].equals(t2[name])
        assert t1[name].num_rows == rows[name]
    assert not gen.make_tables(10, 0.001)["orders"].equals(t1["orders"])


# ------------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER.items())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
