"""Merge-on-read writes on SilverTable (Hudi MOR / Iceberg
merge-on-read table-type parity): small merges append per-bucket delta
layers instead of rewriting buckets; reads reconcile with EXACTLY the
copy-on-write total order, so the two modes converge bit-identically."""

from __future__ import annotations

import os
import time

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from huracan_spark.pipeline.silver import SilverTable

SCHEMA = "_id string, version_ long, deleted boolean, val long"


def _rows(spark, items):
    return spark.createDataFrame(items, SCHEMA)


def _state(t):
    return sorted(
        (r._id, r.version_, r.deleted, r.val) for r in t.read().collect()
    )


def test_mor_merge_appends_delta_without_rewriting_bases(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_rows(spark, [(f"k{i}", 1, False, i) for i in range(16)]))
    bases_before = dict(t.manifest(t.current_generation()))
    t.merge(_rows(spark, [("k0", 2, False, 100)]), write_mode="mor")
    gen = t.current_generation()
    # base refs are untouched — the write cost was O(batch), not
    # O(touched buckets)
    assert dict(t.manifest(gen)) == bases_before
    deltas = t.deltas(gen)
    assert sum(len(v) for v in deltas.values()) == 1
    got = {r._id: (r.version_, r.val) for r in t.read().collect()}
    assert got["k0"] == (2, 100)
    assert got["k1"] == (1, 1)
    assert t.detail()["mor_buckets"] == 1


def test_mor_first_write_to_empty_bucket_becomes_base(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [("a", 1, False, 1)]), write_mode="mor")
    assert t.deltas() in ({},) or not any(t.deltas().values())
    assert _state(t) == [("a", 1, False, 1)]
    t.merge(_rows(spark, [("a", 2, False, 2)]), write_mode="mor")
    assert sum(len(v) for v in t.deltas().values()) == 1
    assert _state(t) == [("a", 2, False, 2)]


def test_read_where_on_mor_bucket_never_resurrects_stale_version(
    spark, tmp_path
):
    """THE merge-on-read pruning trap: a stale version matches the
    predicate while the latest doesn't.  File-level pruning inside a
    delta'd bucket would drop the delta file (val=999 doesn't match)
    and resurrect the stale row — the read must reconcile first."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=1)
    t.merge(_rows(spark, [("k", 1, False, 5), ("j", 1, False, 7)]))
    t.merge(_rows(spark, [("k", 2, False, 999)]), write_mode="mor")
    got = t.read_where([("val", "=", 5)])
    assert got.count() == 0, "k's latest val is 999 — v1 must not surface"
    still = t.read_where([("val", "=", 7)])
    assert [(r._id, r.val) for r in still.collect()] == [("j", 7)]


def test_mor_bucket_level_stats_still_prune(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=8)
    t.merge(_rows(spark, [(f"k{i:02d}", 1, False, i) for i in range(32)]))
    t.merge(
        _rows(spark, [("k00", 2, False, 1000)]), write_mode="mor"
    )
    # a predicate no bucket can satisfy prunes everything, deltas or not
    kept, skipped = t.prune_plan([("val", ">", 100_000)])
    assert kept == [] and skipped
    # the delta'd bucket's widened stats include the new value
    hit = t.read_where([("val", ">=", 1000)])
    assert [(r._id, r.val) for r in hit.collect()] == [("k00", 1000)]


def test_compact_absorbs_deltas(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_rows(spark, [(f"k{i}", 1, False, i) for i in range(12)]))
    for v in (2, 3):
        t.merge(
            _rows(spark, [("k0", v, False, v * 10), ("k5", v, False, v)]),
            write_mode="mor",
        )
    before = _state(t)
    assert t.deltas(), "setup: deltas exist pre-compact"
    t.compact()
    assert t.deltas() == {}
    assert _state(t) == before


def test_cow_merge_absorbs_only_touched_deltas(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=8)
    t.merge(_rows(spark, [(f"k{i:02d}", 1, False, i) for i in range(32)]))
    t.merge(
        _rows(spark, [("k00", 2, False, 0), ("k01", 2, False, 1)]),
        write_mode="mor",
    )
    delta_buckets = set(t.deltas())
    assert delta_buckets
    # COW-merge a higher version of k00 only: its bucket's delta is
    # absorbed; any other delta'd bucket keeps its layer
    t.merge(_rows(spark, [("k00", 3, False, 7)]))
    b_k00 = str(
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("k00")), F.lit(8)).cast("int").alias("b"))
        .first()
        .b
    )
    after = set(t.deltas())
    assert b_k00 not in after
    assert after == delta_buckets - {b_k00}
    got = {r._id: (r.version_, r.val) for r in t.read().collect()}
    assert got["k00"] == (3, 7) and got["k01"] == (2, 1)


def test_diff_and_cdf_stream_see_mor_commits(spark, tmp_path):
    from huracan_spark.sources.silver_cdf_source import (
        register_silver_cdf_source,
    )

    register_silver_cdf_source(spark)
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [("a", 1, False, 1), ("b", 1, False, 2)]))
    g1 = t.current_generation()
    time.sleep(0.002)
    t.merge(
        _rows(
            spark,
            [("a", 2, False, 10), ("b", 2, True, None), ("c", 1, False, 3)],
        ),
        write_mode="mor",
    )
    g2 = t.current_generation()
    d = {r._id: r.change_type for r in t.diff(g1, g2).collect()}
    assert d == {"a": "update", "b": "delete", "c": "insert"}
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("silver_cdf")
        .option("path", t.path)
        .option("starting", g1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    feed = {
        r._id: r._change_type for r in spark.read.parquet(out).collect()
    }
    assert feed == d


def test_vacuum_clone_restore_respect_delta_references(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [("a", 1, False, 1), ("b", 1, False, 2)]))
    t.merge(_rows(spark, [("a", 2, False, 10)]), write_mode="mor")
    t.merge(_rows(spark, [("b", 2, False, 20)]), write_mode="mor")
    want = _state(t)
    mor_gen = t.current_generation()
    # vacuum must retain every generation the delta layers live in
    t.vacuum(keep=1)
    assert _state(t) == want
    c = t.clone(str(tmp_path / "c"))
    assert _state(c) == want
    assert c.deltas() == t.deltas()
    t.compact()
    assert t.deltas() == {}
    t.restore(mor_gen)
    assert t.deltas() == t.deltas(mor_gen)
    assert _state(t) == want


def test_mor_schema_evolution_null_fills(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [("a", 1, False, 1), ("b", 1, False, 2)]))
    evolved = spark.createDataFrame(
        [("a", 2, False, "fresh")],
        "_id string, version_ long, deleted boolean, note string",
    )
    t.merge(evolved, write_mode="mor")
    got = {r._id: (r.version_, r.val, r.note) for r in t.read().collect()}
    assert got["a"] == (2, None, "fresh")  # batch omitted val -> null
    assert got["b"] == (1, 2, None)  # old rows null-fill the new column
    t.compact()
    got2 = {r._id: (r.version_, r.note) for r in t.read().collect()}
    assert got2 == {"a": (2, "fresh"), "b": (1, None)}


def test_mor_merge_metrics(spark, tmp_path):
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(_rows(spark, [("a", 1, False, 1), ("b", 1, False, 2)]))
    m = t.merge(
        _rows(
            spark,
            [("a", 2, False, 10), ("b", 1, True, None), ("c", 1, False, 3)],
        ),
        write_mode="mor",
        collect_metrics=True,
    )
    assert (m.inserted, m.modified, m.unchanged) == (1, 1, 1)


def _full_state(t):
    df = t.read()
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.collect()]
    return cols, sorted(rows, key=repr)


@settings(
    deadline=None,
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),  # key
                st.integers(min_value=1, max_value=4),  # version
                st.booleans(),  # tombstone
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    ),
    modes=st.lists(st.booleans(), min_size=4, max_size=4),
    # batches from this index on carry an added column (null fill)
    extra_from=st.integers(min_value=0, max_value=4),
    # (after batch i, delete val < T): cow rewrite vs deletion vector
    delete_at=st.one_of(
        st.none(),
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=400),
        ),
    ),
    # after batch i, rename val -> amount (column mapping) on both
    rename_at=st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
)
# all merge-on-read: k0's bucket reaches delta depth 3; the delete
# after batch 2 marks k3's row in the BASE and k1's in delta 1, and
# batch 3 stacks a delta above the marked files; batches 2-3 add a
# column under a renamed payload column
@example(
    batches=[
        [(0, 1, False), (1, 1, False), (2, 1, False), (3, 1, False)],
        [(0, 2, False), (1, 2, False)],
        [(0, 3, False), (2, 2, False)],
        [(0, 4, False)],
    ],
    modes=[True, True, True, True],
    extra_from=2,
    delete_at=(2, 150),
    rename_at=1,
)
# the same depth with full ties across layers (k3 v1 base vs delta 1,
# k2 v2 delta 2 vs delta 3: the earlier layer wins) and a closing
# delete that marks every live row, without column mapping
@example(
    batches=[
        [(0, 1, False), (1, 1, False), (2, 1, False), (3, 1, False)],
        [(0, 2, False), (1, 2, True), (3, 1, False)],
        [(0, 3, False), (2, 2, False)],
        [(0, 4, False), (2, 2, False)],
    ],
    modes=[True, True, True, True],
    extra_from=1,
    delete_at=(3, 400),
    rename_at=None,
)
def test_cow_and_mor_converge_bit_identically(
    spark, tmp_path_factory, batches, modes, extra_from, delete_at, rename_at
):
    """ANY batch sequence (duplicate versions, same-version tombstone
    flips, interleaved modes, an added column, a deletion-vector
    DELETE, a column rename) produces the same final state under
    merge-on-read as under pure copy-on-write — the reconciliation
    total order is exactly merge_into's — and compacting the
    merge-on-read table changes nothing."""
    root = tmp_path_factory.mktemp("morprop")
    cow = SilverTable(spark, str(root / "cow"), n_buckets=2)
    mor = SilverTable(spark, str(root / "mor"), n_buckets=2)
    col = "val"
    for i, b in enumerate(batches):
        extra = i >= extra_from
        schema = f"_id string, version_ long, deleted boolean, {col} long"
        # payload encodes the batch index, so equal-version ties across
        # batches carry DIFFERENT payloads — the earliest-commit-wins
        # tie rule is observable, not vacuous
        items = []
        for k, v, d in b:
            x = None if d else 100 * i + k * 10 + v
            items.append(
                (f"k{k}", v, d, x) + ((None if d else -x,) if extra else ())
            )
        rows = spark.createDataFrame(
            items, schema + (", extra long" if extra else "")
        )
        cow.merge(rows)
        mor.merge(
            rows, write_mode="mor" if modes[i % len(modes)] else "cow"
        )
        if delete_at is not None and delete_at[0] == i:
            f = [(col, "<", delete_at[1])]
            assert cow.delete_where(f) == mor.delete_where(f, write_mode="dv")
        if rename_at == i:
            cow.rename_column(col, "amount")
            mor.rename_column(col, "amount")
            col = "amount"
    assert _full_state(cow) == _full_state(mor)
    before = _full_state(mor)
    mor.compact()
    assert _full_state(mor) == before


# -- disjoint-bucket conflict resolution (rebase fast path) --------------


def _bucket_of(spark, key: str, n: int) -> int:
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(key)), F.lit(n)).cast("int").alias("b"))
        .first()
        .b
    )


def _two_keys_in_distinct_buckets(spark, n=2):
    a = "k0"
    ba = _bucket_of(spark, a, n)
    for i in range(1, 64):
        b = f"k{i}"
        if _bucket_of(spark, b, n) != ba:
            return a, b
    raise AssertionError("no second bucket found")


def test_disjoint_conflict_rebases_without_remerging(spark, tmp_path):
    """A loser of the commit race whose touched buckets are untouched
    by the winner SPLICES its entries onto the winner's manifest —
    one _merge_attempt, no second Spark job — and neither update is
    lost (Delta's disjoint-file conflict resolution)."""
    path = str(tmp_path / "t")
    t = SilverTable(spark, path, n_buckets=2)
    ka, kb = _two_keys_in_distinct_buckets(spark)
    t.merge(_rows(spark, [(ka, 1, False, 1), (kb, 1, False, 2)]))

    other = SilverTable(spark, path, n_buckets=2)
    real = t._try_commit
    fired = {"n": 0}

    def racy(expected, new_gen, locked=False):
        if fired["n"] == 0:
            fired["n"] += 1
            # a concurrent writer on a DIFFERENT bucket wins first
            other.merge(_rows(spark, [(kb, 2, False, 20)]))
        return real(expected, new_gen, locked=locked)

    attempts = {"n": 0}
    orig_attempt = t._merge_attempt

    def counting(*a, **k):
        attempts["n"] += 1
        return orig_attempt(*a, **k)

    t._try_commit = racy
    t._merge_attempt = counting
    t.merge(_rows(spark, [(ka, 2, False, 10)]))
    assert attempts["n"] == 1, "disjoint loss must rebase, not re-merge"
    got = {r._id: (r.version_, r.val) for r in t.read().collect()}
    assert got[ka] == (2, 10) and got[kb] == (2, 20)
    raw = t._manifest_raw(t.current_generation())
    assert "rebased_on" in raw["commit"]


def test_overlapping_conflict_falls_back_to_remerge(spark, tmp_path):
    """When the winner touched the SAME bucket, the rebase is refused
    and the loser re-merges against the winner's state — last version
    still wins, nothing is lost."""
    path = str(tmp_path / "t")
    t = SilverTable(spark, path, n_buckets=2)
    ka, _ = _two_keys_in_distinct_buckets(spark)
    t.merge(_rows(spark, [(ka, 1, False, 1)]))

    other = SilverTable(spark, path, n_buckets=2)
    real = t._try_commit
    fired = {"n": 0}

    def racy(expected, new_gen, locked=False):
        if fired["n"] == 0:
            fired["n"] += 1
            other.merge(_rows(spark, [(ka, 2, False, 20)]))  # SAME bucket
        return real(expected, new_gen, locked=locked)

    attempts = {"n": 0}
    orig_attempt = t._merge_attempt

    def counting(*a, **k):
        attempts["n"] += 1
        return orig_attempt(*a, **k)

    t._try_commit = racy
    t._merge_attempt = counting
    t.merge(_rows(spark, [(ka, 3, False, 30)]))
    assert attempts["n"] >= 2, "overlap must force a genuine re-merge"
    got = {r._id: (r.version_, r.val) for r in t.read().collect()}
    assert got[ka] == (3, 30)
    assert "rebased_on" not in t._manifest_raw(t.current_generation()).get(
        "commit", {}
    )


def test_rebase_preserves_winner_blooms_and_stats(spark, tmp_path):
    """The spliced manifest keeps the winner's stats/bloom entries for
    its buckets and ours for ours — pruning stays exact afterwards."""
    path = str(tmp_path / "t")
    t = SilverTable(spark, path, n_buckets=2)
    t.add_bloom_index("val")
    ka, kb = _two_keys_in_distinct_buckets(spark)
    t.merge(_rows(spark, [(ka, 1, False, 1), (kb, 1, False, 2)]))

    other = SilverTable(spark, path, n_buckets=2)
    real = t._try_commit
    fired = {"n": 0}

    def racy(expected, new_gen, locked=False):
        if fired["n"] == 0:
            fired["n"] += 1
            other.merge(_rows(spark, [(kb, 2, False, 222)]))
        return real(expected, new_gen, locked=locked)

    t._try_commit = racy
    t.merge(_rows(spark, [(ka, 2, False, 111)]))
    raw = t._manifest_raw(t.current_generation())
    assert "rebased_on" in raw["commit"]
    # both sides' new values are findable through the bloom-pruned read
    hit = {r._id for r in t.read_where([("val", "=", 111)]).collect()}
    assert hit == {ka}
    hit2 = {r._id for r in t.read_where([("val", "=", 222)]).collect()}
    assert hit2 == {kb}
    assert set(raw["stats"]) == {"0", "1"}


def test_dml_in_mor_mode_appends_tombstone_deltas(spark, tmp_path):
    """delete_where(write_mode="mor"): the tombstones land as delta
    layers — bases untouched (deletion-vector write economics) — and
    the deleted keys are gone from every read path until compact."""
    t = SilverTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_rows(spark, [(f"k{i}", 1, False, i) for i in range(12)]))
    bases = dict(t.manifest(t.current_generation()))
    n = t.delete_where([("val", "<", 3)], write_mode="mor")
    assert n == 3
    assert dict(t.manifest(t.current_generation())) == bases
    assert t.deltas(), "tombstones must have stacked as deltas"
    live = {r._id for r in t.read().filter(~F.col("deleted")).collect()}
    assert live == {f"k{i}" for i in range(3, 12)}
    m = t.update_where(
        [("val", "=", 5)], {"val": "val * 100"}, write_mode="mor"
    )
    assert m == 1
    got = {r._id: r.val for r in t.read().filter(~F.col("deleted")).collect()}
    assert got["k5"] == 500
    t.compact()
    assert t.deltas() == {}
    got2 = {r._id: r.val for r in t.read().filter(~F.col("deleted")).collect()}
    assert got2 == got
