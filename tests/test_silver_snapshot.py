"""Per-generation read snapshots on SilverTable: a current generation
with merge-on-read deltas or deletion vectors is reconciled once per
process and shared by every ``read()`` until a newer generation
commits.  Every kind of commit must make the next ``read()`` return
the new state, and the superseded snapshot must be released."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import StorageLevel

from huracan_spark.pipeline.silver import SilverTable

SCHEMA = "_id string, version_ long, deleted boolean, val long"


def _rows(spark, items, schema=SCHEMA):
    return spark.createDataFrame(items, schema)


def _image(df):
    """{_id: (version_, deleted, val-or-None)}; ``val`` may have been
    renamed to ``amount`` or dropped."""
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[d["_id"]] = (d["version_"], d["deleted"], d.get("val", d.get("amount")))
    return out


def _same_result(a, b) -> bool:
    return a._jdf.queryExecution().analyzed().sameResult(
        b._jdf.queryExecution().analyzed()
    )


def _mor_tailed(spark, path):
    """Six keys in a copy-on-write base, then one merge-on-read delta:
    the current generation reconciles at read time."""
    t = SilverTable(spark, path, n_buckets=2)
    t.merge(_rows(spark, [(f"k{i}", 1, False, i) for i in range(6)]))
    first = t.current_generation()
    t.merge(_rows(spark, [("k0", 2, False, 100)]), write_mode="mor")
    model = {f"k{i}": (1, False, i) for i in range(6)}
    model["k0"] = (2, False, 100)
    return t, first, model


def _mor_merge(spark, t, first, model):
    t.merge(_rows(spark, [("k1", 2, False, 101)]), write_mode="mor")
    model["k1"] = (2, False, 101)


def _cow_merge(spark, t, first, model):
    t.merge(_rows(spark, [("k1", 2, False, 101)]))
    model["k1"] = (2, False, 101)


def _compact(spark, t, first, model):
    t.compact()


def _maybe_optimize(spark, t, first, model):
    assert t.maybe_optimize(0) is not None


def _delete_dv(spark, t, first, model):
    assert t.delete_where([("val", "<", 2)], write_mode="dv") == 1
    model["k1"] = (2, True, 1)


def _delete_cow(spark, t, first, model):
    assert t.delete_where([("val", "<", 2)], write_mode="cow") == 1
    model["k1"] = (2, True, 1)


def _update(spark, t, first, model):
    assert t.update_where([("val", ">=", 100)], {"val": "val + 10"}) == 1
    model["k0"] = (3, False, 110)


def _restore(spark, t, first, model):
    t.restore(first)
    model["k0"] = (1, False, 0)


def _rename(spark, t, first, model):
    t.rename_column("val", "amount")


def _drop(spark, t, first, model):
    t.drop_column("val")
    for k, (v, d, _) in list(model.items()):
        model[k] = (v, d, None)


def _second_handle(spark, t, first, model):
    other = SilverTable(spark, t.path, n_buckets=2)
    other.merge(_rows(spark, [("k2", 5, False, 102)]), write_mode="mor")
    model["k2"] = (5, False, 102)


COMMITS = [
    _mor_merge, _cow_merge, _compact, _maybe_optimize, _delete_dv,
    _delete_cow, _update, _restore, _rename, _drop, _second_handle,
]


@pytest.mark.parametrize("commit", COMMITS, ids=lambda f: f.__name__[1:])
def test_next_read_sees_every_kind_of_commit(spark, tmp_path, commit):
    t, first, model = _mor_tailed(spark, str(tmp_path / "t"))
    snap = t.read()
    assert snap.is_cached
    assert t.read() is snap  # one reconciliation per generation
    assert SilverTable(spark, t.path).read() is snap  # shared by handles
    assert _image(snap) == model

    commit(spark, t, first, model)
    fresh = t.read()
    assert fresh is not snap
    assert _image(fresh) == model
    # the superseded snapshot is released (a rename-only commit leaves
    # a plan whose result equals the old one, so the cache lookup for
    # the old frame finds the CURRENT snapshot); the current one is
    # shared again, or lazy when the commit left pure copy-on-write state
    assert snap.storageLevel == StorageLevel.NONE or _same_result(snap, fresh)
    mixed = bool(t.deltas() or t.dvs())
    assert fresh.is_cached == mixed
    assert (t.read() is fresh) == mixed
    if commit is _rename:
        assert "amount" in fresh.columns and "val" not in fresh.columns
    if commit is _drop:
        assert "val" not in fresh.columns


def test_pure_cow_and_historical_reads_stay_lazy(spark, tmp_path):
    t, first, model = _mor_tailed(spark, str(tmp_path / "t"))
    current = t.current_generation()
    hist = t.read(first)
    assert not hist.is_cached and hist is not t.read(first)
    explicit = t.read(current)
    assert not explicit.is_cached and explicit is not t.read()
    t.compact()
    cow = t.read()
    assert not cow.is_cached
    assert cow.storageLevel == StorageLevel.NONE
    assert cow is not t.read()
    assert _image(cow) == model


_RESTART = textwrap.dedent(
    """
    import sys
    from huracan_spark.session import get_spark
    from huracan_spark.pipeline.silver import SilverTable

    schema = "_id string, version_ long, deleted boolean, val long"
    spark = get_spark("snapshot-restart", shuffle_partitions=2)
    t = SilverTable(spark, sys.argv[1], n_buckets=2)
    t.merge(spark.createDataFrame([("a", 1, False, 1), ("b", 1, False, 2)], schema))
    t.merge(spark.createDataFrame([("a", 2, False, 3)], schema), write_mode="mor")
    before = sorted(tuple(r) for r in t.read().collect())
    spark.stop()
    spark = get_spark("snapshot-restart", shuffle_partitions=2)
    t = SilverTable(spark, sys.argv[1], n_buckets=2)
    after = sorted(tuple(r) for r in t.read().collect())
    assert before == after == [("a", 2, False, 3), ("b", 1, False, 2)], (before, after)
    t.merge(spark.createDataFrame([("b", 2, False, 4)], schema), write_mode="mor")
    assert sorted(tuple(r) for r in t.read().collect())[1] == ("b", 2, False, 4)
    spark.stop()
    print("ok")
    """
)


def test_read_after_session_restart(tmp_path):
    """A snapshot held for a stopped SparkContext is never served to a
    new session on the same table."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    res = subprocess.run(
        [sys.executable, "-c", _RESTART, str(tmp_path / "t")],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().endswith("ok")
