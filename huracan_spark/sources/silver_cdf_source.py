"""Silver change feed as a STREAMING source (Delta readChangeFeed
parity).

Delta exposes ``spark.readStream.format("delta").option(
"readChangeFeed", "true")`` — a stream of row-level changes driven by
the commit log.  SilverTable's generation manifests carry the same
information, surfaced here through Spark 4's Python DataSource API:

- stream OFFSETS are generation names (the commit log positions);
- each micro-batch covers the generation pairs committed since the
  last offset, and fans out one ``InputPartition`` PER CHANGED BUCKET
  per pair — executors read only the delta's buckets in parallel
  (manifest file-skipping, `pipeline/silver.py::changed_buckets`),
  so a batch costs the delta, not the table;
- partition reads are pure pyarrow/stdlib (no SparkSession on the
  executor), classify changes exactly like ``SilverTable.diff``
  (insert / update / delete, plus ``drop`` for audit-visibility of
  impossible new-side nulls), and include equal-version tombstone
  flips;
- replaying a committed offset range after restart re-reads the same
  immutable generation files — replay-stable by construction (the
  property the K1 idempotent-MERGE sink assumes).  Vacuum keeps every
  retained generation readable; streams resuming from beyond the
  vacuum horizon fail loudly on the missing manifest rather than
  silently skipping commits.

Usage::

    register_silver_cdf_source(spark)
    feed = (spark.readStream.format("silver_cdf")
            .option("path", table_path)
            .option("starting", "earliest")   # or "latest" / a gen name
            .load())
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from huracan_spark.pipeline.features import check_reader_features

__all__ = ["SilverCdfStreamDataSource", "register_silver_cdf_source"]


def _manifest(path: str, gen: str) -> dict:
    """Parse one generation's manifest WITH the reader feature gate —
    the CDF source must refuse unknown-feature manifests exactly like
    ``SilverTable._manifest_raw`` does, or a future-feature commit a
    batch reader refuses would be silently misread by the stream (the
    precise failure mode the gate exists to prevent)."""
    with open(os.path.join(path, gen, "manifest.json")) as f:
        raw = json.load(f)
    return check_reader_features(raw, gen)


# metadata columns appended after the table's own columns — the Delta
# CDF shape (_change_type + commit info), plus the pre-image version
_META_DDL = (
    "_change_type string, _old_version bigint, _commit_generation string"
)


def _table_ddl(path: str) -> str:
    """DDL of the table's committed schema + CDF metadata columns.
    Read from the CURRENT generation's manifest at stream start; rows
    from generations predating an evolved column null-fill it."""
    gen = _current(path)
    if gen is None:
        raise ValueError(f"silver table at {path!r} has no committed state")
    sj = _manifest(path, gen).get("schema")
    if sj is None:
        # pre-schema-manifest table: minimal envelope
        cols = "_id string, version_ bigint, deleted boolean"
    else:
        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(sj))
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in st.fields
        )
    return f"{cols}, {_META_DDL}"


def _gens(path: str) -> list[str]:
    """Committed generations, oldest first (manifest-less in-flight
    dirs excluded) — pure file IO, callable on driver or executor."""
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith("gen-")
        and os.path.isfile(os.path.join(path, d, "manifest.json"))
    )


def _manifest_refs(path: str, gen: str) -> tuple[dict, dict, dict]:
    """(bucket -> base rel, bucket -> [delta rels], bucket -> [dv rels])
    for one commit — merge-on-read generations carry per-bucket delta
    layers that must reconcile before the diff, and deletion-vector
    generations carry position sidecars that overlay as tombstones."""
    raw = _manifest(path, gen)
    return raw["buckets"], raw.get("deltas", {}), raw.get("dvs", {})


def _current(path: str) -> str | None:
    ptr = os.path.join(path, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return json.load(f)["generation"]


def _colmap(path: str) -> dict | None:
    """The CURRENT generation's logical->physical column map (column
    mapping tables).  Physical names are immutable, so one map taken at
    stream start decodes files from every generation."""
    gen = _current(path)
    if gen is None:
        return None
    return _manifest(path, gen).get("colmap")


class _CdfPartition(InputPartition):
    def __init__(
        self, table_path, gen, old_refs, new_refs, columns, preimages,
        colmap=None,
    ):
        self.table_path = table_path
        self.gen = gen  # the generation whose commit produced the change
        # each side is (base rel | None, [delta rels], [dv rels]) —
        # None base with no deltas = the bucket does not exist there
        self.old_refs = old_refs
        self.new_refs = new_refs
        self.columns = columns  # LOGICAL table column names, schema order
        self.preimages = preimages
        self.colmap = colmap  # logical -> physical (column mapping)


def _load_dv(table_path: str, dv_rels) -> dict:
    """{file tail (gen/_bucket=K/name.parquet): {row position, ...}}
    union over the given deletion-vector sidecar dirs."""
    import pyarrow.parquet as pq

    marks: dict = {}
    for rel in dict.fromkeys(dv_rels or ()):
        d = os.path.join(table_path, rel)
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(
                os.path.join(d, fn), columns=["_dv_file", "_dv_pos"]
            )
            for r in t.to_pylist():
                marks.setdefault(r["_dv_file"], set()).add(r["_dv_pos"])
    return marks


def _load_bucket(
    table_path: str, rel: str | None, columns, colmap=None, dv_marks=None
) -> dict:
    """{_id: {logical col: value}} for one bucket data dir.  Files
    store PHYSICAL column names (column mapping); absent columns
    (pre-evolution generations, retired physical names) null-fill.
    Positions listed in ``dv_marks`` overlay as version+1 tombstones
    (deletion vectors), mirroring SilverTable._apply_dv."""
    if rel is None:
        return {}
    import pyarrow.parquet as pq

    phys = {c: (colmap.get(c, c) if colmap else c) for c in columns}
    out = {}
    d = os.path.join(table_path, rel)
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".parquet"):
            continue
        p = os.path.join(d, fn)
        tail = "/".join(p.split(os.sep)[-3:])
        marked = (dv_marks or {}).get(tail, ())
        have = set(pq.ParquetFile(p).schema_arrow.names)
        want = sorted({pc for pc in phys.values() if pc in have})
        t = pq.read_table(p, columns=want)
        for pos, r in enumerate(t.to_pylist()):
            row = {c: r.get(phys[c]) for c in columns}
            if pos in marked:
                row["deleted"] = True
                row["version_"] = row["version_"] + 1
            out[row["_id"]] = row
    return out


def _order_key(row) -> tuple[int, int]:
    return (row["version_"], 1 if row.get("deleted") else 0)


def _load_state(table_path: str, refs, columns, colmap=None) -> dict:
    """Reconciled {_id: row} for one bucket side: base layer, then each
    merge-on-read delta layer folded with the merge_into total order —
    a later layer's row wins only on a STRICTLY higher
    (version, tombstone) key, so the earliest commit wins full ties,
    exactly like SilverTable._reconcile.  Deletion vectors
    overlay each layer BEFORE the fold (a marked row competes as its
    tombstone image), exactly like SilverTable._bucket_state."""
    base_rel, delta_rels, dv_rels = refs
    dv = _load_dv(table_path, dv_rels) if dv_rels else None
    state = _load_bucket(table_path, base_rel, columns, colmap, dv)
    for rel in delta_rels:
        for _id, row in _load_bucket(
            table_path, rel, columns, colmap, dv
        ).items():
            cur = state.get(_id)
            if cur is None or _order_key(row) > _order_key(cur):
                state[_id] = row
    return state


class _SilverCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options, columns):
        self.path = options["path"]
        self.starting = options.get("starting", "latest")
        self.columns = columns  # table columns (no CDF metadata)
        # Delta-CDF preimage rows: updates/deletes additionally emit the
        # OLD payload as update_preimage / delete_preimage, so a
        # downstream aggregate can fold -old/+new adjustments from the
        # feed ALONE, never touching the table
        self.preimages = options.get("preimages", "false").lower() == "true"
        # admission control (Delta maxFilesPerTrigger analog): bound
        # how many COMMITS one micro-batch may span, so a consumer
        # whose trigger interval outpaces the table's commit rate
        # catches up in bounded batches instead of one giant one.
        # Effective from the SECOND planned batch of a run: the engine
        # asks for latestOffset before initialOffset, and seeding the
        # position from `starting` instead would regress committed
        # offsets after a restart (duplicate emission) — so the first
        # batch of each run is uncapped, exactly like Delta's
        # maxFilesPerTrigger under Trigger.Once.  Correctness never
        # depends on the cap.
        self.max_gens = int(options.get("max_generations_per_batch", "0"))
        self._pos: str | None = None
        self.cmap = _colmap(self.path)

    def initialOffset(self) -> dict:
        if self.starting == "earliest":
            # "" = before the first commit: the first micro-batch
            # emits the oldest generation's content as inserts (Delta's
            # startingVersion=0 includes the initial adds), then pairs
            off = {"generation": ""}
        elif self.starting == "latest":
            off = {"generation": _current(self.path) or ""}
        else:
            if self.starting not in _gens(self.path):
                raise ValueError(
                    f"unknown starting generation {self.starting!r}"
                )
            off = {"generation": self.starting}
        self._pos = off["generation"]
        return off

    def latestOffset(self) -> dict:
        cur = _current(self.path) or ""
        if not self.max_gens or self._pos is None or not cur:
            return {"generation": cur}
        gens = _gens(self.path)
        hi = gens.index(cur)
        if self._pos == "":
            # the initial snapshot counts as the first step
            capped = min(self.max_gens - 1, hi)
        else:
            if self._pos not in gens:
                return {"generation": cur}  # vacuumed: partitions() raises
            capped = min(gens.index(self._pos) + self.max_gens, hi)
        return {"generation": gens[capped]}

    def partitions(self, start: dict, end: dict):
        # track planned progress so the NEXT latestOffset caps relative
        # to this batch's end (also re-seeds the position on restart,
        # when the engine replans from its checkpoint)
        self._pos = end["generation"]
        gens = _gens(self.path)
        s, e = start["generation"], end["generation"]
        if not e or s == e:
            return []
        if e not in gens:
            raise ValueError(
                f"end generation {e!r} is not on disk — the table was "
                "vacuumed or corrupted past this stream's offset"
            )
        hi = gens.index(e)
        if s and s in gens and gens.index(s) > hi:
            # defense in depth: an end offset BEHIND the start would
            # regress the committed position and re-emit pairs on the
            # next batch — refuse instead of silently planning it
            raise ValueError(
                f"offset inversion: start {s!r} is ahead of end {e!r}"
            )
        parts = []
        if s:
            if s not in gens:
                # resuming from beyond the vacuum horizon must fail
                # LOUDLY: silently skipping to the oldest surviving
                # generation would drop committed changes
                raise ValueError(
                    f"start generation {s!r} was vacuumed — this "
                    "stream's offset predates the table's retention "
                    "window; rebuild the consumer from a fresh "
                    "'earliest' snapshot"
                )
            lo = gens.index(s)
        else:
            # initial snapshot: every bucket of the oldest generation
            # diffs against nothing -> its rows emit as inserts (or
            # deletes, for tombstones already present)
            lo = 0
            first = gens[0]
            mb, md, mv = _manifest_refs(self.path, first)
            for b in sorted(set(mb) | set(md)):
                parts.append(
                    _CdfPartition(
                        self.path,
                        first,
                        (None, [], []),
                        (mb.get(b), md.get(b, []), mv.get(b, [])),
                        self.columns,
                        self.preimages,
                        self.cmap,
                    )
                )
        for prev, cur in zip(gens[lo:hi], gens[lo + 1 : hi + 1]):
            mo, do, vo = _manifest_refs(self.path, prev)
            mn, dn, vn = _manifest_refs(self.path, cur)
            for b in sorted(set(mo) | set(mn) | set(do) | set(dn) | set(vn)):
                if (
                    mo.get(b) != mn.get(b)
                    or do.get(b) != dn.get(b)
                    or vo.get(b) != vn.get(b)
                ):
                    parts.append(
                        _CdfPartition(
                            self.path,
                            cur,
                            (mo.get(b), do.get(b, []), vo.get(b, [])),
                            (mn.get(b), dn.get(b, []), vn.get(b, [])),
                            self.columns,
                            self.preimages,
                            self.cmap,
                        )
                    )
        return parts

    def read(self, partition: _CdfPartition):
        cols = partition.columns
        cmap = getattr(partition, "colmap", None)
        old = _load_state(partition.table_path, partition.old_refs, cols, cmap)
        new = _load_state(partition.table_path, partition.new_refs, cols, cmap)
        for _id in sorted(set(old) | set(new)):
            o, n = old.get(_id), new.get(_id)
            # same changed-row predicate and classification as
            # SilverTable.diff: version differs OR deleted differs
            if (
                o is not None
                and n is not None
                and o["version_"] == n["version_"]
                and o["deleted"] == n["deleted"]
            ):
                continue
            if n is None:
                ct = "drop"  # impossible by K2; surfaced for audit
            elif o is None:
                ct = "delete" if n["deleted"] else "insert"
            elif n["deleted"] and not o["deleted"]:
                ct = "delete"
            else:
                ct = "update"
            old_v = o["version_"] if o else None
            if partition.preimages and o is not None and ct in (
                "update",
                "delete",
            ):
                yield tuple(o[c] for c in cols) + (
                    f"{ct}_preimage",
                    old_v,
                    partition.gen,
                )
            payload = (
                n
                if n is not None
                else {c: (_id if c == "_id" else None) for c in cols}
            )
            yield tuple(payload[c] for c in cols) + (
                ct if not (partition.preimages and ct == "update") else
                "update_postimage",
                old_v,
                partition.gen,
            )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable generation names; nothing to ack


class SilverCdfStreamDataSource(DataSource):
    """``spark.readStream.format("silver_cdf")`` — full-payload change
    rows (the table's columns as of stream start) + ``_change_type`` /
    ``_old_version`` / ``_commit_generation`` metadata, Delta's CDF
    shape."""

    @classmethod
    def name(cls) -> str:
        return "silver_cdf"

    def schema(self) -> str:
        return _table_ddl(self.options["path"])

    def streamReader(self, schema) -> _SilverCdfStreamReader:
        meta = {"_change_type", "_old_version", "_commit_generation"}
        cols = [f.name for f in schema.fields if f.name not in meta]
        return _SilverCdfStreamReader(self.options, cols)


def register_silver_cdf_source(spark) -> None:
    spark.dataSource.register(SilverCdfStreamDataSource)
