"""Fast self-tests of the benchmark (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from golden import Golden, diff_state  # noqa: E402
from spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_catalogue(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == {
        k: v[:3] for k, v in END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in PER_LAYER.items()
    }
    # set-up time carries the largest bound
    assert bench["end_to_end"][0]["name"] == "setup_s"
    assert END_TO_END["setup_s"][2] == max(v[2] for v in END_TO_END.values())


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_match_benchmark_json(bench, trace):
    declared = bench["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in declared}
    metrics, missing = run.select_metrics(values, trace)
    assert not missing
    assert {k: v["unit"] for k, v in metrics.items()} == {m["name"]: m["unit"] for m in declared}
    # an unmeasured metric is reported, never silently dropped
    values.pop(declared[0]["name"])
    _, missing = run.select_metrics(values, trace)
    assert missing == [declared[0]["name"]]


def test_tail_has_ten_samples_beyond():
    assert run.tail_pct(100) == 90
    assert run.tail_pct(1000) == 99
    assert run.tail_pct(175) == 90
    assert run.tail_pct(40) == 75
    assert run.tail_pct(12) == 50
    values = list(range(1, 101))
    assert run.percentile(values, 90) == 90
    assert sum(v > run.percentile(values, 90) for v in values) == 10


SMALL = gen.Size(n_objects=300, n_checkpoints=60, replay_overlap=15, replay_new=20,
                 replay_objects=120, stream_files=8, stream_changes=6, upserts=6,
                 upsert_rows=4, requests=60)


@pytest.fixture(scope="module")
def golden(tmp_path_factory):
    d, meta, _ = gen.ensure(str(tmp_path_factory.mktemp("inputs")), 5, SMALL)
    return Golden(d, meta)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, SMALL)
    b = gen.generate(str(tmp_path / "b"), 5, SMALL)
    assert a == b
    for name in ("changes_a", "changes_b", "content", "upserts"):
        with open(tmp_path / "a" / f"{name}.parquet", "rb") as fa, open(tmp_path / "b" / f"{name}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), name


def test_golden_catches_a_corrupted_state(golden):
    exp = golden.state_rows(True, 5, 3)
    assert diff_state(dict(exp), exp) == []
    live = next(k for k, r in exp.items() if not r[2])
    older = dict(exp)
    older[live] = (live, exp[live][1] - 1, *exp[live][2:])
    assert diff_state(older, exp)
    resurrected = dict(exp)
    resurrected[live] = (live, exp[live][1], True, *([None] * 9))
    assert diff_state(resurrected, exp)
    dropped = dict(exp)
    del dropped[live]
    assert diff_state(dropped, exp)


def test_golden_state_rules(golden):
    """Tombstones win ties, dead-lettered versions fall back, upserts apply."""
    con = golden.con
    before = golden.state_rows(True, 0, 0)
    flips = con.execute(
        """SELECT object_id, version FROM changes_b GROUP BY ALL
           HAVING count(DISTINCT change_type) > 1 AND bool_or(change_type = 'deleted')"""
    ).fetchall()
    for oid, v in flips:
        if oid in before and before[oid][1] == v:
            assert before[oid][2] is True
    after = golden.state_rows(True, 0, 2)
    ups = con.execute("SELECT _id, version_ FROM upserts WHERE batch < 2").fetchall()
    for oid, v in ups:
        assert after[oid][1] >= v
    for oid, r in after.items():
        if r[2]:
            assert r[3:] == (None,) * 9  # a tombstone carries no payload
