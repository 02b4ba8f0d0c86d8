"""Silver current-state table: persistent, versioned-MERGE maintained.

The Mongo ``{env}_{net}_objects`` collection analog (mongo.rs:19-21).
Without Delta in this environment, MERGE is implemented directly over
parquet — but INCREMENTALLY, the way Delta/Iceberg do it, not as a
full-state rewrite:

- state is hash-bucketed by ``_id`` into per-bucket parquet
  directories (``gen-*/_bucket=K``);
- every generation carries a ``manifest.json`` mapping bucket id ->
  data directory, where untouched buckets point INTO OLDER
  generations (flattened references — no recursion on read);
- MERGE computes the batch's touched buckets (<= n_buckets distinct
  hash values), reads and re-reduces ONLY those, writes only those,
  and copies the remaining manifest entries verbatim.  A batch that
  touches 1% of the keyspace rewrites ~1% of the state — the
  file-skipping behavior of the reference's in-place conditional bulk
  update (`main/src/etl.rs:1244-1267`) and of a real ``MERGE INTO``;
- the ``_CURRENT`` pointer swap stays atomic (os.replace);
- VACUUM is reference-aware: a generation is removable only when no
  retained generation's manifest (transitively) references its data —
  retained generations, including time-travel targets, always stay
  readable (property-tested).

K1 conditional upsert, K2 tombstones, and idempotent replay semantics
are unchanged from the Delta ``MERGE INTO`` contract documented in
operators/compaction.py.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from huracan_spark.operators.compaction import latest_state, merge_into
from huracan_spark.pipeline import bloom, skipping
from huracan_spark.pipeline.features import READER_FEATURES

__all__ = ["SilverTable", "MergeMetrics", "CommitConflict", "ConstraintViolation"]

#: parsed-manifest cache keyed by (abs path, mtime_ns, size): a single
#: merge used to parse the SAME manifest JSON 3-5x (manifest / deltas /
#: dvs / colmap / table_schema each re-opened it), and at production
#: bucket counts the stats/fstats maps make these parses real driver
#: cost per commit.  mtime+size keying keeps rewrites (rebase rewrites
#: a claimed generation's manifest in place) correctly invalidated.
#: Consumers treat the parsed dict as read-only (audited: every writer
#: copies sub-dicts before mutating).
_MANIFEST_CACHE: dict[tuple[str, int, int], dict] = {}
_MANIFEST_CACHE_MAX = 64

#: ``read()``'s reconciled snapshot of each table's CURRENT generation,
#: when that generation has merge-on-read deltas or deletion vectors:
#: (SparkContext, abs table path) -> (generation, persisted DataFrame).
#: At most one entry per table per context; a read that sees a newer
#: generation unpersists the old one.
_SNAPSHOTS: dict[tuple, tuple[str, DataFrame]] = {}
_SNAPSHOTS_LOCK = threading.Lock()


class ConstraintViolation(ValueError):
    """A merge batch failed a table CHECK constraint under
    ``on_violation="fail"`` (Delta's InvariantViolationException
    analog).  Carries per-constraint violation counts."""

    def __init__(self, counts: dict[str, int]):
        self.counts = counts
        super().__init__(f"check constraint violations: {counts}")


class CommitConflict(RuntimeError):
    """A writer lost the optimistic-commit race too many times in a row
    (Delta's ConcurrentModificationException analog)."""


class _LockHandle(str):
    """Commit-lock path plus the identity nonce written into the file
    at acquisition and the holder's heartbeat control.  The heartbeat
    keeps a LIVE holder's mtime fresh so stale-breaking only ever hits
    dead writers; the nonce lets release verify the file is still ours
    before unlinking (defense in depth)."""

    nonce: str = ""
    stop_heartbeat = None  # threading.Event, set by _acquire_commit_lock
    heartbeat_thread = None


class MergeMetrics:
    """K3/K8 write-result audit: inserted/modified/unchanged counts
    (etl.rs:1280-1318)."""

    def __init__(self, inserted: int, modified: int, unchanged: int):
        self.inserted = inserted
        self.modified = modified
        self.unchanged = unchanged

    def as_dict(self) -> dict[str, int]:
        return {
            "inserted": self.inserted,
            "modified": self.modified,
            "unchanged": self.unchanged,
        }


class SilverTable:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        # an existing table's bucket count is part of its on-disk layout:
        # honor the persisted value, or merges would misbucket keys
        persisted = self._persisted_n_buckets()
        self.n_buckets = persisted if persisted is not None else n_buckets

    def _persisted_n_buckets(self) -> int | None:
        gen = self.current_generation()
        if gen is None:
            return None
        try:
            with open(os.path.join(self.path, gen, "manifest.json")) as f:
                return json.load(f).get("n_buckets")
        except FileNotFoundError:
            return None

    # -- pointers / manifests -------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    # -- optimistic concurrency (Delta-style commit protocol) -----------
    #
    # Data files are written OUTSIDE any lock (concurrent writers never
    # block each other's Spark jobs); only the pointer swap is guarded:
    # an exclusive on-disk lock (O_CREAT|O_EXCL — atomic on POSIX) plus
    # a compare-and-swap against the generation the writer read at
    # entry.  A writer that lost the race rolls back its orphan
    # generation dir and retries its merge against the new state —
    # exactly Delta's optimistic protocol, where conflicting commits
    # re-resolve against the winner's snapshot.

    # generous: a live pessimistic writer legitimately holds the lock
    # across a whole Spark merge — only a truly dead writer's lock may
    # be broken
    _LOCK_STALE_SECS = 600.0
    #: heartbeat period for held locks; a LIVE holder refreshes the
    #: lock mtime every this-many seconds, so staleness (mtime age >
    #: _LOCK_STALE_SECS) can only ever be true of a DEAD holder — a
    #: long-held pessimistic span (replay_quarantine, DV commits) is
    #: never broken mid-span no matter how many Spark jobs it runs
    _LOCK_HEARTBEAT_SECS = 60.0

    def _acquire_commit_lock(self, timeout: float = 120.0) -> "_LockHandle":
        lock = os.path.join(self.path, "_COMMIT_LOCK")
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                # identity nonce: release verifies the lock file still
                # carries OUR nonce before unlinking, as defense in
                # depth under the heartbeat (a wrong unlink would
                # delete the NEXT writer's fresh lock and silently
                # admit a third writer into a pessimistic span)
                nonce = f"{os.getpid()}-{time.monotonic_ns()}"
                os.write(fd, nonce.encode())
                os.close(fd)
                handle = _LockHandle(lock)
                handle.nonce = nonce
                stop = threading.Event()
                handle.stop_heartbeat = stop

                def _beat():
                    while not stop.wait(self._LOCK_HEARTBEAT_SECS):
                        try:
                            os.utime(lock)
                        except FileNotFoundError:
                            return  # lock gone: holder crashed mid-span

                t = threading.Thread(target=_beat, daemon=True)
                t.start()
                handle.heartbeat_thread = t
                return handle
            except FileExistsError:
                try:  # break locks abandoned by a dead writer
                    if time.time() - os.path.getmtime(lock) > self._LOCK_STALE_SECS:
                        # rename, don't unlink: exactly one breaker wins
                        # the rename; a second breaker must NOT unlink
                        # the fresh lock the winner just recreated
                        stale = f"{lock}.stale-{os.getpid()}-{time.monotonic_ns()}"
                        os.rename(lock, stale)
                        os.unlink(stale)
                        continue
                except FileNotFoundError:
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock busy: {lock}")
                time.sleep(0.02)

    def _release_commit_lock(self, lock: "_LockHandle") -> None:
        """Stop the heartbeat, then unlink the commit lock only if it
        is still OURS (nonce matches).  The heartbeat guarantees a live
        holder is never stale-broken, so by the time we release, the
        file at this path is ours unless our PROCESS previously died
        and restarted mid-span (impossible for one handle) — the nonce
        check is belt-and-braces against protocol bugs, and the
        read-then-unlink window is unreachable for a heartbeating
        holder (our mtime is at most _LOCK_HEARTBEAT_SECS old, far
        under _LOCK_STALE_SECS)."""
        stop = getattr(lock, "stop_heartbeat", None)
        if stop is not None:
            stop.set()
        try:
            with open(lock) as f:
                if f.read() != getattr(lock, "nonce", None):
                    return
        except FileNotFoundError:
            return
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass

    def _try_commit(
        self, expected_gen: str | None, new_gen: str, locked: bool = False
    ) -> bool:
        """Atomically swap ``_CURRENT`` to ``new_gen`` iff it still
        points at ``expected_gen``.  Returns False on a lost race.
        ``locked=True`` means the caller already holds the commit lock
        (the pessimistic fallback path)."""
        lock = None if locked else self._acquire_commit_lock()
        try:
            if self.current_generation() != expected_gen:
                return False
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"generation": new_gen}, f)
            os.replace(tmp, self._pointer)
            return True
        finally:
            if lock is not None:
                self._release_commit_lock(lock)

    def current_generation(self) -> str | None:
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            return json.load(f)["generation"]

    def generations(self) -> list[str]:
        """All persisted state generations, oldest first (S7 time travel:
        the reference's unused past-object lookups, client.rs:92-109,
        map to reading an older generation)."""
        return sorted(
            d for d in os.listdir(self.path)
            if d.startswith("gen-") and os.path.isdir(os.path.join(self.path, d))
        )

    def manifest(self, generation: str) -> dict[str, str]:
        """bucket id (str) -> data dir relative to the table root."""
        return self._manifest_json(generation)["buckets"]

    def history(self) -> list[dict]:
        """Commit log, newest first (the DESCRIBE HISTORY analog): one
        entry per on-disk generation with the operation that produced
        it and its commit metadata.  Generations from before this
        feature (or claimed but uncommitted) report operation
        "unknown"."""
        out = []
        for g in reversed(self.generations()):
            try:
                with open(os.path.join(self.path, g, "manifest.json")) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue
            entry = {"generation": g}
            entry.update(m.get("commit", {"operation": "unknown"}))
            out.append(entry)
        return out

    def detail(self) -> dict:
        """Table-level metadata snapshot (the DESCRIBE DETAIL analog):
        current generation, bucket/file/byte counts over the CURRENT
        manifest's referenced data (not dead generations), committed
        schema column names, and total commits on disk."""
        gen = self.current_generation()
        if gen is None:
            return {"location": self.path, "current_generation": None}
        manifest = self.manifest(gen)
        n_files = 0
        n_bytes = 0
        for rel in set(self._all_rels(gen)):
            d = os.path.join(self.path, rel)
            for fn in os.listdir(d):
                p = os.path.join(d, fn)
                if os.path.isfile(p) and fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(p)
        schema = self.table_schema(gen)
        return {
            "location": self.path,
            "current_generation": gen,
            "n_buckets": self.n_buckets,
            "populated_buckets": len(manifest),
            "num_files": n_files,
            "size_bytes": n_bytes,
            "columns": [f.name for f in schema.fields] if schema else None,
            "num_commits": len(self.history()),
            "stats_buckets": len(self.bucket_stats(gen)),
            "file_stats_buckets": len(self.file_stats(gen)),
            "constraints": sorted(self.constraints()),
            "mor_buckets": len(self.deltas(gen)),
            "dv_buckets": len(self.dvs(gen)),
            "column_mapping": self.colmap(gen) is not None,
            "rows": self.count_rows(gen),
        }

    def changed_buckets(self, gen_old: str, gen_new: str) -> list[str]:
        """Bucket ids whose data file differs between two generations.

        Because merges rewrite only touched buckets and reference the
        rest from older generations (incremental manifest design), an
        IDENTICAL relative path in both manifests proves the bucket's
        bytes are unchanged — those buckets are skipped without being
        read.  This is the Delta/Iceberg change-data-feed file-skipping
        trick expressed over plain parquet manifests."""
        mo, mn = self.manifest(gen_old), self.manifest(gen_new)
        do, dn = self.deltas(gen_old), self.deltas(gen_new)
        vo, vn = self.dvs(gen_old), self.dvs(gen_new)
        return sorted(
            b
            for b in set(mo) | set(mn) | set(do) | set(dn) | set(vo) | set(vn)
            if mo.get(b) != mn.get(b)
            or do.get(b) != dn.get(b)
            or vo.get(b) != vn.get(b)
        )

    def diff(self, gen_old: str, gen_new: str) -> DataFrame | None:
        """Change data feed between two generations: per changed key,
        ``change_type`` in (insert, update, delete) + old/new versions.

        Only buckets whose file changed between the manifests are read
        (``changed_buckets``); within those, rows whose version is
        unchanged are filtered out — so the cost scales with the DELTA,
        not the table.  Tombstone arrivals classify as ``delete``;
        keys vanish from state never (delete is final, K2), so a
        new-side null is impossible by construction and surfaces as
        ``drop`` for auditability rather than being silently skipped.
        Returns None when no bucket differs."""
        changed = self.changed_buckets(gen_old, gen_new)
        if not changed:
            return None
        cols = ["_id", "version_", "deleted"]
        old_df = self._bucket_state(gen_old, changed)
        new_df = self._bucket_state(gen_new, changed)
        if old_df is None and new_df is None:
            return None
        old = (
            old_df.select(*cols)
            if old_df is not None
            else new_df.select(*cols).limit(0)
        )
        new = (
            new_df.select(*cols)
            if new_df is not None
            else old_df.select(*cols).limit(0)
        )
        o = old.select(
            F.col("_id"),
            F.col("version_").alias("old_version"),
            F.col("deleted").alias("old_deleted"),
        )
        n = new.select(
            F.col("_id"),
            F.col("version_").alias("new_version"),
            F.col("deleted").alias("new_deleted"),
        )
        j = o.join(n, "_id", "full_outer")
        change = (
            F.when(F.col("new_version").isNull(), F.lit("drop"))
            .when(
                F.col("old_version").isNull(),
                F.when(F.col("new_deleted"), F.lit("delete")).otherwise(
                    F.lit("insert")
                ),
            )
            .when(
                F.col("new_deleted") & ~F.coalesce(F.col("old_deleted"), F.lit(False)),
                F.lit("delete"),
            )
            .otherwise(F.lit("update"))
        )
        return (
            j.filter(
                F.col("old_version").isNull()
                | F.col("new_version").isNull()
                | (F.col("new_version") != F.col("old_version"))
                # an equal-version tombstone flip (late delete carrying
                # the stored version) changes state without changing the
                # version — the CDF must not be blind to it
                | ~F.col("new_deleted").eqNullSafe(F.col("old_deleted"))
            )
            .select("_id", change.alias("change_type"), "old_version", "new_version")
        )

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("_id")), F.lit(self.n_buckets)).cast("int")

    def table_changes(
        self, start_gen: str | None = None, end_gen: str | None = None
    ) -> DataFrame | None:
        """The Delta ``table_changes`` analog: the change feed across a
        RANGE of commits, one ``diff`` per consecutive generation pair
        in ``(start_gen, end_gen]``, stamped with the generation and
        commit timestamp that produced each change.  ``start_gen=None``
        starts at the oldest on-disk generation; ``end_gen=None`` ends
        at the current one.  Cost scales with the deltas (each pairwise
        diff reads only changed buckets), not with table size × commits.
        Returns None when the range holds no changes."""
        gens = [g for g in self.generations() if self._has_manifest(g)]
        if end_gen is None:
            end_gen = self.current_generation()
        if end_gen not in gens:
            raise ValueError(f"unknown end generation {end_gen!r}")
        if start_gen is not None and start_gen not in gens:
            raise ValueError(f"unknown start generation {start_gen!r}")
        lo = 0 if start_gen is None else gens.index(start_gen)
        hi = gens.index(end_gen)
        parts = []
        for prev, cur in zip(gens[lo:hi], gens[lo + 1 : hi + 1]):
            d = self.diff(prev, cur)
            if d is None:
                continue
            commit = self._manifest_raw(cur).get("commit", {})
            parts.append(
                d.withColumn("_commit_generation", F.lit(cur)).withColumn(
                    "_commit_ts_ms",
                    F.lit(commit.get("ts_ms")).cast("long"),
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _has_manifest(self, generation: str) -> bool:
        return os.path.exists(
            os.path.join(self.path, generation, "manifest.json")
        )

    # -- data skipping (Delta file-stats analog) -------------------------

    def bucket_stats(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket column {min,max,null_count,n_rows} harvested from
        parquet footers at commit time.  Empty for pre-feature
        generations (reads then never prune)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("stats", {})

    def prune_plan(
        self, filters, generation: str | None = None
    ) -> tuple[list[str], list[str]]:
        """(kept data paths, skipped bucket ids) for a conjunction of
        ``(col, op, value)`` filters — the observable skipping decision
        ``read_where`` acts on.  Two granularities: a bucket whose
        aggregate stats can't match is skipped whole; a surviving
        bucket with per-file stats keeps only the FILES that might
        match (post-``cluster_by`` OPTIMIZE, files hold disjoint
        ranges, so this is where most of the pruning lands).  Files
        also drop when a bloom index proves an ``=``/``in`` value
        absent (``add_bloom_index`` — the point-lookup granularity
        min/max stats can't reach)."""
        gen = generation or self.current_generation()
        if gen is None:
            return [], []
        cmap = self.colmap(gen)
        if cmap:
            # stats/bloom maps are keyed by PHYSICAL column names;
            # filters arrive logical — translate before probing
            filters = [(cmap.get(c, c), op, v) for (c, op, v) in filters]
        manifest = self.manifest(gen)
        deltas = self.deltas(gen)
        dvs = self.dvs(gen)
        stats = self.bucket_stats(gen)
        fstats = self.file_stats(gen)
        blooms = self.file_blooms(gen)
        # bloom probes need the committed PHYSICAL dtypes: a bitmap is
        # only consultable when the column's string cast is stable
        # against the probe value's str() (see bloom._probe_ok) — and
        # type widening can change a column's cast family later
        committed = self.table_schema(gen)
        types = None
        if committed is not None:
            phys = self._physical_schema(committed, cmap)
            types = {f.name: f.dataType.simpleString() for f in phys.fields}
        kept, skipped = [], []
        for b, rel in sorted(manifest.items()):
            probe = filters
            if b in dvs:
                # the deletion-vector overlay changes version_/deleted
                # at READ time; footer stats describe the pre-overlay
                # bytes, so filters on those columns must not prune a
                # DV'd bucket (data-column stats stay sound — the
                # overlay never touches payload columns)
                probe = [
                    f for f in filters if f[0] not in ("version_", "deleted")
                ]
            if not skipping.bucket_might_match(stats.get(b), probe):
                skipped.append(b)
                continue
            if b in dvs and b not in deltas:
                # DV'd bucket: the overlay join needs every surviving
                # row position, so file-level pruning is skipped (the
                # whole-bucket stats test above still applies);
                # compact() absorbs the DV and restores file pruning
                kept.append(rel)
                continue
            if b in deltas:
                # merge-on-read bucket: pruning individual FILES could
                # drop the latest version of a key while a stale
                # version survives in another layer (resurrection) —
                # only the whole-bucket stats test above is sound.
                # Bucket stats cover base+deltas (merged at commit).
                kept.append(rel)
                kept.extend(deltas[b])
                continue
            per_file = fstats.get(b)
            bmap = blooms.get(b, {})
            if not per_file:
                # no per-file stats: the bloom map (complete when
                # present — all-null files carry zero bitmaps) is the
                # file list; without either, read the bucket whole
                if not bmap:
                    kept.append(rel)
                    continue
                per_file = {fn: {} for fn in bmap}
            live = [
                os.path.join(rel, fn)
                for fn, fs in sorted(per_file.items())
                if skipping.bucket_might_match(fs, filters)
                and bloom.file_might_contain(bmap.get(fn), filters, types)
            ]
            if live:
                kept.extend(live)
            else:
                skipped.append(b)
        return kept, skipped

    def read_where(
        self, filters, generation: str | None = None
    ) -> DataFrame | None:
        """Stats-pruned read: buckets whose footer stats prove the
        conjunction can't match are never opened (Delta data skipping);
        the exact predicate is still applied to whatever is read, so
        results equal ``read().filter(...)`` row-for-row."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        deltas = self.deltas(gen)
        dvs = self.dvs(gen)
        cmap = self.colmap(gen)
        schema = self.table_schema(gen)
        phys_schema = self._physical_schema(schema, cmap)
        pred = skipping.filters_to_column(filters)
        reconciling = set(deltas) | set(dvs)
        if reconciling:
            # merge-on-read / deletion-vector buckets: the predicate
            # applies AFTER reconciliation/overlay (a stale version may
            # match while the latest doesn't; an overlaid tombstone
            # must not read back live).  Copy-on-write buckets keep
            # full file-level pruning; reconciling buckets prune
            # whole-bucket only (see prune_plan) and resolve before
            # the filter — sound, because reconciliation selects
            # stored rows (the overlay only flips deleted/version_).
            manifest = self.manifest(gen)
            kept, _ = self.prune_plan(filters, gen)
            rec_rels = {
                r
                for b in reconciling
                for r in ([manifest[b]] if b in manifest else [])
                + deltas.get(b, [])
            }
            cow_paths = [p for p in kept if p not in rec_rels]
            rec_survivors = [
                b
                for b in sorted(reconciling)
                if b in manifest and manifest[b] in kept
            ]
            parts = []
            if cow_paths:
                parts.append(
                    self._to_logical(
                        self._read_buckets(cow_paths, schema=phys_schema),
                        cmap,
                    ).filter(pred)
                )
            if rec_survivors:
                parts.append(
                    self._bucket_state(
                        gen, rec_survivors, schema=schema
                    ).filter(pred)
                )
            if not parts:
                if schema is None:
                    return self.read(gen).filter(pred)
                return self.spark.createDataFrame([], schema)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        kept, _ = self.prune_plan(filters, gen)
        if not kept:
            if schema is None:
                # pre-schema manifest with everything pruned cannot
                # happen (no stats -> nothing prunes); guard anyway
                return self.read(gen).filter(pred)
            return self.spark.createDataFrame([], schema)
        return self._to_logical(
            self._read_buckets(kept, schema=phys_schema), cmap
        ).filter(pred)

    @staticmethod
    def _harvest_stats(out_dir: str) -> tuple[dict[str, dict], dict[str, dict]]:
        """Footer stats for every ``_bucket=K`` dir under a freshly
        written generation — metadata-only, no Spark job.  One footer
        pass yields BOTH granularities: per-bucket (coarse prune) and
        per-file (fine prune after a clustered OPTIMIZE)."""
        import os as _os

        bstats: dict[str, dict] = {}
        fstats: dict[str, dict] = {}
        for d in _os.listdir(out_dir):
            if not d.startswith("_bucket="):
                continue
            raw = skipping.collect_file_stats(
                _os.path.join(out_dir, d), _raw=True
            )
            if not raw:
                continue
            merged = None
            for fs in raw.values():
                merged = fs if merged is None else skipping.merge_stats(merged, fs)
            b = d.split("=", 1)[1]
            bstats[b] = skipping._strip(merged)
            fstats[b] = {fn: skipping._strip(fs) for fn, fs in raw.items()}
        return bstats, fstats

    def file_stats(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket {filename: column stats} — the per-file skipping
        granularity (empty for pre-feature generations)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("fstats", {})

    # -- bloom filter indexes (Delta bloom index analog) ------------------

    def _bloom_config_path(self) -> str:
        return os.path.join(self.path, "bloom.json")

    def bloom_indexes(self) -> dict[str, dict]:
        """Configured bloom columns: {col: {"m": bits, "k": probes}}."""
        try:
            with open(self._bloom_config_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def add_bloom_index(
        self,
        col: str,
        bits: int = bloom.DEFAULT_BITS,
        k: int = bloom.DEFAULT_K,
        rebuild: bool = True,
    ) -> None:
        """Register a per-file bloom index on ``col`` (point-lookup
        skipping for high-cardinality non-bucket columns — min/max
        stats can't prune those).  Future commits harvest bitmaps for
        the files they write; ``rebuild=True`` (default) also indexes
        the CURRENT data now, via one distributed pass + a
        metadata-only commit (Delta backfills new bloom indexes the
        same way)."""
        if bits % 8 or bits <= 0 or k <= 0:
            raise ValueError("bits must be a positive multiple of 8, k > 0")
        cfg = self.bloom_indexes()
        # the config is keyed by PHYSICAL column name: bitmaps harvest
        # from parquet files, whose names survive logical renames
        cmap = self.colmap()
        cfg[cmap.get(col, col) if cmap else col] = {"m": bits, "k": k}
        with open(self._bloom_config_path(), "w") as f:
            json.dump(cfg, f)
        if rebuild and self.current_generation() is not None:
            self._commit_bloom_rebuild()

    def drop_bloom_index(self, col: str | None, _physical: str | None = None) -> None:
        """Stop indexing ``col`` on future commits.  Already-committed
        bitmaps keep pruning (they are self-describing) until the
        files they cover are rewritten."""
        if _physical is None:
            cmap = self.colmap()
            _physical = cmap.get(col, col) if cmap else col
        cfg = self.bloom_indexes()
        cfg.pop(_physical, None)
        with open(self._bloom_config_path(), "w") as f:
            json.dump(cfg, f)

    def file_blooms(self, generation: str | None = None) -> dict[str, dict]:
        """Per-bucket {filename: {col: bitmap}} committed with the
        generation (empty before any bloom index exists)."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("blooms", {})

    def _harvest_blooms(self, rel_dirs) -> dict[str, dict]:
        """One Spark job over the given bucket data dirs computing the
        configured per-file bitmaps — O(listed data), run at commit
        over just-written files only (the same order as the merge
        itself).  No-op (and no job) without configured indexes."""
        cfg = self.bloom_indexes()
        if not cfg or not rel_dirs:
            return {}
        paths = [os.path.join(self.path, r) for r in sorted(set(rel_dirs))]
        df = (
            self.spark.read.parquet(*paths)
            .withColumn("_path", F.input_file_name())
            .withColumn(
                "_bucket_id", F.regexp_extract("_path", r"_bucket=(\d+)", 1)
            )
            .withColumn("_file", F.element_at(F.split("_path", "/"), -1))
        )
        return bloom.harvest_blooms(df, cfg)

    def _commit_bloom_rebuild(self, max_attempts: int = 6) -> str:
        """Index the whole current state: harvest bitmaps for every
        referenced file and commit a metadata-only generation carrying
        them (data is referenced, not rewritten)."""
        import shutil

        for _ in range(max_attempts):
            current_gen = self.current_generation()
            raw = self._manifest_raw(current_gen)
            delta_buckets = set(raw.get("deltas", {}))
            # delta'd buckets never file-prune (see prune_plan), so
            # indexing only the copy-on-write buckets' files
            blooms = self._harvest_blooms(
                [
                    rel
                    for b, rel in raw["buckets"].items()
                    if b not in delta_buckets
                ]
            )
            gen, out = self._claim_generation()
            mf = {
                k: v
                for k, v in raw.items()
                if k
                in (
                    "buckets", "n_buckets", "schema", "stats", "fstats",
                    "deltas", "dvs", "colmap", "retired",
                )
            }
            mf["blooms"] = blooms
            mf["commit"] = {
                "operation": "BLOOM INDEX",
                "ts_ms": int(time.time() * 1000),
                "columns": sorted(self.bloom_indexes()),
            }
            self._write_manifest(out, mf)
            if self._try_commit(current_gen, gen):
                return gen
            shutil.rmtree(out, ignore_errors=True)
        raise CommitConflict("bloom rebuild lost the commit race")

    # -- CHECK constraints (Delta invariants / DLT expectations) ---------

    @property
    def _constraints_path(self) -> str:
        return os.path.join(self.path, "_CONSTRAINTS")

    def constraints(self) -> dict[str, str]:
        """name -> SQL boolean expression every merged row must satisfy
        (NULL passes, as in SQL CHECK)."""
        try:
            with open(self._constraints_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def add_check(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT analog.  Enforced on every
        subsequent merge; persisted with the table so reopened handles
        enforce it too."""
        lock = self._acquire_commit_lock()
        try:
            cons = self.constraints()
            cons[name] = expr
            tmp = self._constraints_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cons, f)
            os.replace(tmp, self._constraints_path)
        finally:
            self._release_commit_lock(lock)

    def drop_check(self, name: str) -> None:
        lock = self._acquire_commit_lock()
        try:
            cons = self.constraints()
            cons.pop(name, None)
            tmp = self._constraints_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cons, f)
            os.replace(tmp, self._constraints_path)
        finally:
            self._release_commit_lock(lock)

    # -- generated columns (Delta GENERATED ALWAYS AS) --------------------

    @property
    def _generated_path(self) -> str:
        return os.path.join(self.path, "_GENERATED")

    def generated_columns(self) -> dict[str, str]:
        """column -> SQL expression over the row's other columns.  A
        merge batch that OMITS the column gets it computed; a batch
        that PROVIDES it must match the expression (null-safely), or
        the rows ride the merge's ``on_violation`` disposition —
        Delta's GENERATED ALWAYS AS contract."""
        try:
            with open(self._generated_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def add_generated_column(self, col: str, expr: str) -> None:
        """Register ``col GENERATED ALWAYS AS (expr)``.  Applies to
        every subsequent merge (batch and streaming share the path);
        persisted with the table, carried by ``clone``.  Existing rows
        are NOT backfilled (as in Delta — the column materializes per
        write); merge a touch-up batch or ``update_where`` to backfill."""
        if col in ("_id", "version_", "deleted", "_bucket"):
            raise ValueError(f"cannot generate protected column {col!r}")
        lock = self._acquire_commit_lock()
        try:
            gens = self.generated_columns()
            gens[col] = expr
            tmp = self._generated_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(gens, f)
            os.replace(tmp, self._generated_path)
        finally:
            self._release_commit_lock(lock)

    def drop_generated_column(self, col: str) -> None:
        lock = self._acquire_commit_lock()
        try:
            gens = self.generated_columns()
            gens.pop(col, None)
            tmp = self._generated_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(gens, f)
            os.replace(tmp, self._generated_path)
        finally:
            self._release_commit_lock(lock)

    def _apply_generated(self, batch: DataFrame) -> tuple[DataFrame, dict]:
        """Compute omitted generated columns; return synthetic CHECK
        expressions for provided ones (validated in the same one-pass
        constraint evaluation as the table's real CHECKs).  ``<=>``
        never yields NULL, so a mismatching NULL can't slip through
        the CHECK null-passes loophole."""
        gens = self.generated_columns()
        synthetic = {}
        for c, expr in gens.items():
            if c in batch.columns:
                synthetic[f"_generated_{c}"] = f"`{c}` <=> ({expr})"
            else:
                batch = batch.withColumn(c, F.expr(expr))
        return batch, synthetic

    def _enforce_constraints(
        self, batch: DataFrame, on_violation: str, extra: dict | None = None
    ):
        """Split a batch on the table's CHECK constraints.  Returns
        (clean_batch, quarantined_df_or_None).  SQL CHECK semantics: a
        row violates a constraint only when the expression is FALSE
        (NULL/unknown passes).  All constraints evaluate in ONE pass —
        no per-rule re-scan.  ``extra`` folds caller-synthesized
        checks (generated-column matches) into the same pass."""
        cons = dict(self.constraints())
        if extra:
            cons.update(extra)
        if not cons:
            return batch, None
        viol_cols = {
            name: ~F.coalesce(F.expr(expr), F.lit(True))
            for name, expr in cons.items()
        }
        any_viol = F.array_compact(
            F.array(
                *[
                    F.when(pred, F.lit(name))
                    for name, pred in viol_cols.items()
                ]
            )
        )
        tagged = batch.withColumn("_violated", any_viol)
        if on_violation == "fail":
            counts = tagged.agg(
                *[
                    F.count(F.when(pred, 1)).alias(name)
                    for name, pred in viol_cols.items()
                ]
            ).first()
            bad = {n: counts[n] for n in cons if counts[n]}
            if bad:
                raise ConstraintViolation(bad)
            return batch, None
        clean = tagged.filter(F.size("_violated") == 0).drop("_violated")
        if on_violation == "drop":
            return clean, None
        if on_violation == "quarantine":
            quarantined = tagged.filter(F.size("_violated") > 0).withColumn(
                "_quarantined_ts_ms", F.lit(int(time.time() * 1000))
            )
            return clean, quarantined
        raise ValueError(f"unknown on_violation mode: {on_violation!r}")

    def replay_quarantine(self) -> int:
        """Re-admit quarantined rows that NOW pass the table's checks —
        the sink-edge replay loop (K7's retry-DLQ contract at the
        quarantine): after a constraint is dropped, relaxed, or the
        offending upstream is fixed and a touch-up batch is expected,
        passing rows MERGE through the normal versioned path (so the
        usual total order still decides against newer stored state)
        and the quarantine rewrites to only the still-failing rows.
        Returns the number of rows re-admitted.  Idempotent: a second
        call finds nothing newly passing.

        Holds the commit lock across the whole read-merge-rewrite span:
        a quarantine-mode merge landing between the snapshot and the
        rewrite would otherwise have its fresh quarantine rows silently
        deleted (same multi-writer protocol as every other writer; the
        inner merge runs pessimistically under the held lock)."""
        lock = self._acquire_commit_lock(timeout=300.0)
        try:
            q = self.read_quarantine()
            if q is None:
                return 0
            rows = q.drop("_violated", "_quarantined_ts_ms").localCheckpoint(
                eager=True
            )
            # re-validate exactly as merge() does: computed/provided
            # generated columns ride the same synthetic <=> checks —
            # without them a quarantined generated-column mismatch row
            # (a supported disposition) would pass this pre-check and
            # then blow up the inner merge's on_violation="fail" pass,
            # making replay unusable on generated-column tables
            checked, synthetic = self._apply_generated(rows)
            passing, _ = self._enforce_constraints(
                checked, "drop", extra=synthetic
            )
            passing = passing.localCheckpoint(eager=True)
            n = passing.count()
            if n == 0:
                return 0
            still_failing = self._enforce_constraints(
                checked, "quarantine", extra=synthetic
            )[1]
            if still_failing is not None:
                still_failing = still_failing.localCheckpoint(eager=True)
            self.merge(passing, _locked=True)
            # rewrite the quarantine to the residue (lineage was cut
            # above, so overwriting the dir the frames came from is
            # safe; the lock guarantees no concurrent merge appended)
            import shutil

            qdir = os.path.join(self.path, "_quarantine")
            shutil.rmtree(qdir, ignore_errors=True)
            if still_failing is not None and still_failing.count() > 0:
                still_failing.write.mode("overwrite").parquet(qdir)
            return n
        finally:
            self._release_commit_lock(lock)

    def read_quarantine(self) -> DataFrame | None:
        """Rows rejected by quarantine-mode merges, with the violated
        constraint names (``_violated``) and rejection timestamp —
        the DLT expectation-quarantine surface (K7 at the sink edge)."""
        qdir = os.path.join(self.path, "_quarantine")
        if not os.path.isdir(qdir) or not os.listdir(qdir):
            return None
        return self.spark.read.parquet(qdir)

    # -- reads ----------------------------------------------------------

    def deltas(self, generation: str | None = None) -> dict[str, list[str]]:
        """Per-bucket merge-on-read delta dirs, in commit order
        (``{bucket: [rel, ...]}``; empty for pure copy-on-write
        state).  A bucket with deltas reconciles at read time via the
        documented total order; ``compact()`` (or a copy-on-write
        merge touching the bucket) absorbs them."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("deltas", {})

    def dvs(self, generation: str | None = None) -> dict[str, list[str]]:
        """Per-bucket deletion-vector sidecar dirs (Delta deletion
        vectors / Iceberg position deletes): ``{bucket: [rel, ...]}``
        where each rel holds parquet rows ``(_dv_file, _dv_pos)``
        marking stored row POSITIONS whose read-time image is the
        version+1 TOMBSTONE of the row at that position — bit-identical
        to the copy-on-write DELETE rewrite, at O(deleted rows) write
        IO and zero data files touched.  Unlike merge-on-read deltas
        the read path needs no reconciliation shuffle: the overlay is
        a broadcast join on (file, position).  ``compact()`` (or a
        copy-on-write merge touching the bucket) absorbs them."""
        gen = generation or self.current_generation()
        if gen is None:
            return {}
        return self._manifest_raw(gen).get("dvs", {})

    def _all_rels(self, generation: str) -> list[str]:
        """Every data dir the generation references: bucket bases plus
        merge-on-read deltas plus deletion-vector sidecars (the
        reference set vacuum/clone must honor)."""
        raw = self._manifest_raw(generation)
        rels = list(raw.get("buckets", {}).values())
        for ds in raw.get("deltas", {}).values():
            rels.extend(ds)
        for ds in raw.get("dvs", {}).values():
            rels.extend(ds)
        return rels

    def _reconcile(self, layers: DataFrame) -> DataFrame:
        """Fold one scan of base + delta layers (``_seq``: 0 for the
        base, i for a bucket's i-th delta) into current state with
        EXACTLY the merge_into total order: highest ``(version_,
        tombstone-prec)`` wins; at a full tie the EARLIEST commit wins
        (base beats delta 1 beats delta 2 — the multi-layer
        generalization of merge_into's stored-side precedence, so
        merge-on-read and copy-on-write converge bit-identically)."""
        cols = [c for c in layers.columns if c != "_seq"]
        order = ["version_"]
        extra = []
        if "deleted" in layers.columns:
            extra.append(
                F.coalesce(F.col("deleted").cast("int"), F.lit(0)).alias(
                    "_del_prec"
                )
            )
            order.append("_del_prec")
        extra.append((-F.col("_seq")).alias("_neg_seq"))
        order.append("_neg_seq")
        out = latest_state(layers.select("*", *extra), "_id", order)
        return out.select(*cols)

    def _bucket_state(
        self, generation: str, bucket_ids=None, schema=None
    ) -> DataFrame | None:
        """Current-state rows of the selected buckets (default: all),
        with merge-on-read deltas reconciled and deletion vectors
        overlaid.  Copy-on-write buckets read straight through (no
        extra shuffle); DV-only buckets add one broadcast overlay join
        (still no shuffle — each key is stored once in a COW bucket, so
        the overlaid row IS final); only delta'd buckets pay the
        reconciliation reduce, over ONE scan of all their layers."""
        manifest = self.manifest(generation)
        deltas = self.deltas(generation)
        dvs = self.dvs(generation)
        cmap = self.colmap(generation)
        schema = self._physical_schema(
            schema or self.table_schema(generation), cmap
        )
        if bucket_ids is None:
            ids = sorted(set(manifest) | set(deltas))
        else:
            ids = [str(b) for b in bucket_ids]
        cow = [
            manifest[b]
            for b in ids
            if b in manifest and b not in deltas and b not in dvs
        ]
        dv_only = [
            b for b in ids if b in dvs and b not in deltas and b in manifest
        ]
        mor = [b for b in ids if b in deltas]
        parts = []
        if cow:
            parts.append(self._read_buckets(cow, schema=schema))
        if dv_only:
            parts.append(
                self._apply_dv(
                    self._read_buckets(
                        [manifest[b] for b in dv_only],
                        schema=schema,
                        with_pos=True,
                    ),
                    [r for b in dv_only for r in dvs[b]],
                )
            )
        if mor:
            # every layer of every delta'd bucket in ONE scan; a row's
            # commit sequence is its data dir's place in the bucket's
            # layer list (base 0, i-th delta i)
            seq = {}
            for b in mor:
                if b in manifest:
                    seq[manifest[b]] = 0
                for i, rel in enumerate(deltas[b]):
                    seq[rel] = i + 1
            # overlay BEFORE the reconciliation reduce: a DV-marked row
            # competes as its tombstone image, exactly as if the cow
            # delete had rewritten it into that layer
            mor_dv = [r for b in mor if b in dvs for r in dvs[b]]
            layers = self._read_buckets(
                list(seq), schema=schema, with_pos=bool(mor_dv), seq=seq
            )
            if mor_dv:
                layers = self._apply_dv(layers, mor_dv)
            parts.append(self._reconcile(layers))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._to_logical(out, cmap)

    def read(self, generation: str | None = None) -> DataFrame | None:
        """Current state (or ``generation``'s, for time travel).  A
        current generation with merge-on-read deltas or deletion
        vectors is reconciled ONCE per process: every read of it
        returns the same lazily persisted DataFrame, shared by all
        handles on the table, and the first read that sees a newer
        generation unpersists it.  Pure copy-on-write generations and
        explicit ``generation`` reads stay lazy, so filters keep
        pushing down into the parquet scan."""
        if generation is not None:
            return self._bucket_state(generation)
        gen = self.current_generation()
        key = (self.spark.sparkContext, os.path.abspath(self.path))
        with _SNAPSHOTS_LOCK:
            for k in [k for k in _SNAPSHOTS if k[0]._jsc is None]:
                del _SNAPSHOTS[k]  # its SparkContext stopped
            held = _SNAPSHOTS.get(key)
            if held is not None:
                if held[0] == gen:
                    return held[1]
                del _SNAPSHOTS[key]
                held[1].unpersist()
            if gen is None:
                return None
            state = self._bucket_state(gen)
            if state is not None and (self.deltas(gen) or self.dvs(gen)):
                state = state.persist()
                _SNAPSHOTS[key] = (gen, state)
            return state

    def read_as_of(self, ts_ms: int) -> DataFrame | None:
        """Timestamp time travel (``AS OF TIMESTAMP``): read the newest
        generation committed at or before ``ts_ms``.  Generations
        predating commit metadata fall back to their name's embedded
        millisecond timestamp.  Returns None if nothing was committed
        that early."""
        best = None
        for e in self.history():
            t = e.get("ts_ms")
            if t is None:
                stem = e["generation"].split("-", 1)[1].split("-")[0]
                t = int(stem) if stem.isdigit() else None
            if t is not None and t <= ts_ms:
                best = e["generation"]
                break  # history is newest-first
        return self.read(generation=best) if best else None

    def restore(self, generation: str) -> str:
        """RESTORE analog: make ``generation`` the current state again
        by committing a NEW generation whose manifest mirrors it (data
        is referenced, not copied — O(metadata)).  History stays
        monotonic, so the undone merges remain inspectable and
        reference-aware vacuum keeps every file the restored state
        needs.  Commits through the optimistic CAS like any writer."""
        target = self._manifest_raw(generation)  # raises if unknown
        for _ in range(6):
            current_gen = self.current_generation()
            gen, out = self._claim_generation()
            mf = {
                "buckets": target["buckets"],
                "n_buckets": self.n_buckets,
                "commit": {
                    "operation": "RESTORE",
                    "ts_ms": int(time.time() * 1000),
                    "restored": generation,
                },
            }
            for carried in (
                "schema", "stats", "fstats", "blooms", "deltas", "dvs",
                "colmap", "retired",
            ):
                if carried in target:
                    mf[carried] = target[carried]
            self._write_manifest(out, mf)
            if self._try_commit(current_gen, gen):
                return gen
            import shutil

            shutil.rmtree(out, ignore_errors=True)
        raise CommitConflict("restore lost the commit race 6 times")

    def table_schema(self, generation: str | None = None):
        """The generation's committed table schema (StructType), or
        None for pre-feature manifests."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        try:
            sj = self._manifest_json(gen).get("schema")
        except FileNotFoundError:
            return None
        if sj is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(sj))

    # -- column mapping (Delta columnMapping.mode=name parity) ----------
    #
    # A generation's manifest may carry ``colmap`` (logical column name
    # -> physical parquet column name) plus ``retired`` (physical names
    # no longer mapped, from DROP COLUMN).  Physical names are IMMUTABLE
    # once assigned, so RENAME/DROP COLUMN are metadata-only commits —
    # no data file ever rewrites — and a re-added logical name binds a
    # FRESH physical column, so dropped values never resurface.  Tables
    # that never rename/drop have no ``colmap`` (identity world, zero
    # overhead).  The committed ``schema`` is always LOGICAL; reads
    # derive the physical schema, read files under it, and alias back.

    _PROTECTED_COLS = ("_id", "version_", "deleted")

    def colmap(self, generation: str | None = None) -> dict[str, str] | None:
        """logical -> physical column map of the generation, or None for
        identity (no rename/drop ever committed)."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        return self._manifest_raw(gen).get("colmap")

    def _physical_schema(self, logical_schema, cmap):
        if not cmap or logical_schema is None:
            return logical_schema
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in logical_schema.fields
            ]
        )

    @staticmethod
    def _rename_cols(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        for a, b in mapping.items():
            if a != b and a in df.columns:
                df = df.withColumnRenamed(a, b)
        return df

    def _to_logical(self, df: DataFrame, cmap) -> DataFrame:
        return self._rename_cols(df, {p: l for l, p in cmap.items()}) if cmap else df

    def _to_physical(self, df: DataFrame, cmap) -> DataFrame:
        return self._rename_cols(df, dict(cmap)) if cmap else df

    def _evolve_colmap(self, prev_raw: dict, merged_cols) -> tuple[dict | None, list]:
        """Extend the previous generation's colmap with identity-free
        physical names for columns schema evolution just added.  A
        fresh physical name never collides with a live OR retired one,
        so a re-added logical column cannot read dropped data."""
        prev_cmap = prev_raw.get("colmap")
        retired = list(prev_raw.get("retired", []))
        if prev_cmap is None:
            return None, retired
        cmap = dict(prev_cmap)
        used = set(cmap.values()) | set(retired) | set(self._PROTECTED_COLS)
        for c in merged_cols:
            if c in self._PROTECTED_COLS or c == "_bucket" or c in cmap:
                continue
            p, i = c, 2
            while p in used:
                p = f"{c}__{i}"
                i += 1
            cmap[c] = p
            used.add(p)
        return cmap, retired

    def _check_refs_column(self, col: str) -> list[str]:
        import re

        pat = re.compile(rf"\b{re.escape(col)}\b")
        return [n for n, expr in self.constraints().items() if pat.search(expr)]

    def _generated_refs_column(self, col: str) -> list[str]:
        """Generated columns that ARE ``col`` or whose expression
        mentions it.  Rename/drop must refuse both: a renamed/dropped
        generated column leaves a stale _GENERATED entry that the next
        merge silently re-adds under the old logical name (fresh
        physical name, recomputed values — silent divergence), and a
        renamed expression input breaks every subsequent merge with
        AnalysisException."""
        import re

        pat = re.compile(rf"\b{re.escape(col)}\b")
        return [
            c
            for c, expr in self.generated_columns().items()
            if c == col or pat.search(expr)
        ]

    def _alter_schema_commit(self, mutate, op: str, **commit_extra) -> str:
        """Shared metadata-only ALTER TABLE commit: ``mutate(fields,
        cmap, retired)`` edits the logical field list + mapping in
        place; data/stats/bloom refs carry verbatim.  CAS-retried like
        every writer."""
        import shutil

        for _ in range(6):
            current_gen = self.current_generation()
            if current_gen is None:
                raise ValueError("cannot alter the schema of an empty table")
            raw = self._manifest_raw(current_gen)
            schema = self.table_schema(current_gen)
            if schema is None:
                raise ValueError(
                    "pre-schema-manifest table: compact() once to commit a "
                    "schema before altering columns"
                )
            cmap = raw.get("colmap")
            if cmap is None:
                # upgrade to mapping mode: identity for current columns
                cmap = {
                    f.name: f.name
                    for f in schema.fields
                    if f.name not in self._PROTECTED_COLS
                }
            else:
                cmap = dict(cmap)
            retired = list(raw.get("retired", []))
            fields = list(schema.fields)
            mutate(fields, cmap, retired)
            from pyspark.sql.types import StructType

            gen, out = self._claim_generation()
            mf = {
                k: v
                for k, v in raw.items()
                if k
                in (
                    "buckets", "n_buckets", "stats", "fstats", "blooms",
                    "deltas", "dvs",
                )
            }
            mf["schema"] = json.dumps(StructType(fields).jsonValue())
            mf["colmap"] = cmap
            mf["retired"] = retired
            mf["commit"] = {
                "operation": op,
                "ts_ms": int(time.time() * 1000),
                **commit_extra,
            }
            self._write_manifest(out, mf)
            if self._try_commit(current_gen, gen):
                return gen
            shutil.rmtree(out, ignore_errors=True)
        raise CommitConflict(f"{op} lost the commit race 6 times")

    def rename_column(self, old: str, new: str) -> str:
        """ALTER TABLE RENAME COLUMN — metadata-only (no data rewrite):
        the logical name changes, the physical parquet name stays.
        Older generations keep reading under their own names (time
        travel is name-faithful).  Refused for protected columns,
        columns referenced by a CHECK constraint, and generated
        columns (or their expression inputs)."""
        if old in self._PROTECTED_COLS or new in self._PROTECTED_COLS:
            raise ValueError(f"cannot rename protected column {old!r}/{new!r}")
        refs = self._check_refs_column(old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraints {refs}; "
                "drop them first"
            )
        grefs = self._generated_refs_column(old)
        if grefs:
            raise ValueError(
                f"column {old!r} is a generated column or referenced by "
                f"generated columns {grefs}; drop_generated_column first"
            )

        def mutate(fields, cmap, retired):
            names = [f.name for f in fields]
            if old not in names:
                raise ValueError(f"no such column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for i, f in enumerate(fields):
                if f.name == old:
                    from pyspark.sql.types import StructField

                    fields[i] = StructField(new, f.dataType, f.nullable)
            cmap[new] = cmap.pop(old)

        return self._alter_schema_commit(
            mutate, "RENAME COLUMN", old=old, new=new
        )

    def drop_column(self, col: str) -> str:
        """ALTER TABLE DROP COLUMN — metadata-only: the physical column
        is retired, never read again, and never reused for a future
        column of the same logical name.  Refused for protected
        columns, columns referenced by a CHECK constraint, and
        generated columns (or their expression inputs)."""
        if col in self._PROTECTED_COLS:
            raise ValueError(f"cannot drop protected column {col!r}")
        refs = self._check_refs_column(col)
        if refs:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraints {refs}; "
                "drop them first"
            )
        grefs = self._generated_refs_column(col)
        if grefs:
            raise ValueError(
                f"column {col!r} is a generated column or referenced by "
                f"generated columns {grefs}; drop_generated_column first"
            )

        def mutate(fields, cmap, retired):
            names = [f.name for f in fields]
            if col not in names:
                raise ValueError(f"no such column {col!r}")
            fields[:] = [f for f in fields if f.name != col]
            phys = cmap.pop(col)
            retired.append(phys)
            # stop bloom-indexing the retired physical column: future
            # files won't carry it, so harvesting it would fail
            cfg = self.bloom_indexes()
            if phys in cfg:
                self.drop_bloom_index(col=None, _physical=phys)

        return self._alter_schema_commit(mutate, "DROP COLUMN", column=col)

    def _read_buckets(
        self, rel_paths, schema=None, with_pos: bool = False, seq=None
    ) -> DataFrame:
        """One parquet scan of the given bucket data dirs.  ``with_pos``
        adds the deletion-vector key ``(_dv_file, _dv_pos)``; ``seq``
        (data dir -> commit sequence) adds each row's ``_seq`` from the
        ``generation/_bucket=K`` dir it was read from."""
        paths = [os.path.join(self.path, p) for p in rel_paths]
        if not paths:
            raise ValueError("empty silver manifest has no schema to read")
        if schema is not None:
            # the committed table schema is authoritative: buckets
            # written before a column evolved in read it back as null,
            # without the per-read footer-merge job mergeSchema costs
            df = self.spark.read.schema(schema).parquet(*paths)
        else:
            # pre-schema-manifest fallback: merge footers across buckets
            # so evolved columns still surface (Delta's read behavior)
            df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        # both keys derive from the trailing components of the absolute
        # _metadata.file_path — stable under table relocation (clone)
        # and URI-scheme differences
        file_path = F.col("_metadata.file_path")
        extra = []
        if with_pos:
            # deletion-vector key: generation/_bucket=K/file.parquet
            extra.append(
                F.regexp_extract(file_path, r"([^/]+/[^/]+/[^/]+)$", 1).alias(
                    "_dv_file"
                )
            )
            extra.append(F.col("_metadata.row_index").alias("_dv_pos"))
        if seq:
            # one SQL map literal, parsed in one JVM call (a lit() per
            # entry would cost a round trip each).  Data dirs are
            # table-minted names (gen-<ms>[-NNN]/_bucket=K): no quotes
            layer = F.expr(
                "map("
                + ", ".join(f"'{rel}', {s}" for rel, s in sorted(seq.items()))
                + ")"
            )
            extra.append(
                layer[
                    F.regexp_extract(file_path, r"([^/]+/[^/]+)/[^/]+$", 1)
                ].alias("_seq")
            )
        return df.select("*", *extra) if extra else df

    def _dv_frame(self, dv_rels) -> DataFrame:
        """The (file, position) marks of the given sidecar dirs.  No
        dedup needed (a distinct() here would shuffle): a position can
        never be marked twice, because once marked its row overlays to
        a tombstone, so its (id, version) can never again join a LIVE
        state row in ``_delete_where_dv`` — if the key revives it is
        at a strictly higher version living in a different row."""
        paths = [os.path.join(self.path, r) for r in sorted(set(dv_rels))]
        return self.spark.read.parquet(*paths).select("_dv_file", "_dv_pos")

    def _apply_dv(self, df: DataFrame, dv_rels) -> DataFrame:
        """Overlay deletion vectors on a pos-aware frame: a marked
        position reads back as the version+1 tombstone of the stored
        row — bit-identical to the image the copy-on-write DELETE
        would have written.  A broadcast join, NOT a shuffle: DV
        cardinality is the not-yet-compacted delete count, which the
        auto-OPTIMIZE policy keeps bounded (mass deletes belong in
        cow/mor mode, where they rewrite or delta the buckets).
        ``_id``/``version_``/``deleted`` are protected from column
        mapping, so their physical names are the logical ones here."""
        marks = self._dv_frame(dv_rels).withColumn("_dv_hit", F.lit(True))
        out = df.join(F.broadcast(marks), ["_dv_file", "_dv_pos"], "left")
        out = out.withColumn(
            "deleted",
            F.when(F.col("_dv_hit"), F.lit(True)).otherwise(F.col("deleted")),
        ).withColumn(
            "version_",
            F.when(F.col("_dv_hit"), F.col("version_") + F.lit(1)).otherwise(
                F.col("version_")
            ),
        )
        return out.drop("_dv_hit", "_dv_file", "_dv_pos")

    def read_key_bucket(self, _id: str, generation: str | None = None) -> DataFrame | None:
        """Point-lookup fast path: read ONLY the bucket that can contain
        ``_id`` — at 100 TB this is one file group, not a table scan."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        nb = self._manifest_raw(gen).get("n_buckets")
        if nb:
            self.n_buckets = nb  # honor a re-bucketed layout
        bucket = (
            self.spark.range(1)
            .select(self._bucket_col_for(F.lit(_id)).alias("b"))
            .first()
            .b
        )
        if str(bucket) not in self.manifest(gen) and str(bucket) not in self.deltas(gen):
            return None
        state = self._bucket_state(gen, [bucket])
        if state is None:
            return None
        return state.filter(F.col("_id") == _id)

    def _bucket_col_for(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    # -- DML (Delta DELETE / UPDATE analogs) -----------------------------
    #
    # Both compile to the versioned MERGE: matching LIVE rows re-enter
    # the table one version higher (as tombstones for DELETE, rewritten
    # for UPDATE), so DML composes with the K1/K2 contract — history
    # stays time-travelable, idempotent replay of the SAME generated
    # batch is a no-op, and a concurrent source row at a yet-higher
    # version still wins (last-version-wins, the documented merge
    # order).  The scan side rides ``read_where``: stats pruning means
    # a selective DELETE reads the few files its predicate can match,
    # and the merge rewrites only the touched buckets.

    def delete_where(self, filters, write_mode: str = "cow") -> int:
        """DELETE FROM ... WHERE (conjunctive ``(col, op, value)``
        filters): tombstone every live matching key at version+1.
        Returns the number of deleted keys.  ``write_mode="mor"``
        lands the tombstones as delta layers (O(deleted keys) write IO)
        instead of rewriting the touched buckets; ``write_mode="dv"``
        goes one step further and records only the (file, row position)
        of each matching stored row — true Delta deletion vectors: no
        data file is written at all, and reads stay shuffle-free."""
        if write_mode == "dv":
            return self._delete_where_dv(filters)
        matching = self.read_where(filters)
        if matching is None:
            return 0
        tomb = (
            matching.filter(~F.col("deleted"))
            .withColumn("version_", F.col("version_") + 1)
            .withColumn("deleted", F.lit(True))
            .localCheckpoint(eager=True)
        )
        n = tomb.count()
        if n:
            self.merge(tomb, write_mode=write_mode)
        return n

    def _delete_where_dv(self, filters) -> int:
        """DELETE as a deletion vector: a metadata-only commit whose
        sidecar parquet lists the (file, row position) of every
        matching live row's winning stored copy.  The read-time
        overlay (``_apply_dv``) images those positions as version+1
        tombstones — bit-identical to what the copy-on-write path
        would have rewritten (pinned by the cow/dv equivalence
        property test).

        Runs pessimistically under the commit lock: the recorded
        positions reference the EXACT files of the read snapshot, so
        losing a race to a writer that rewrites them would silently
        drop the delete — there is no sound rebase for positions.
        DELETEs are rare relative to merges; holding the lock across
        the (small) marking job is the Delta DV trade-off too."""
        lock = self._acquire_commit_lock(timeout=300.0)
        try:
            current_gen = self.current_generation()
            if current_gen is None:
                return 0
            matching = self.read_where(filters, current_gen)
            if matching is None:
                return 0
            live = (
                matching.filter(~F.col("deleted"))
                .select("_id", "version_")
                .localCheckpoint(eager=True)
            )
            n = live.count()
            if n == 0:
                return 0
            raw = self._manifest_raw(current_gen)
            cmap = self.colmap(current_gen)
            phys_schema = self._physical_schema(
                self.table_schema(current_gen), cmap
            )
            # winning stored copies: re-read the files the predicate
            # kept, pos-aware, and match on (_id, version_).  A live
            # key's (id, version) rows are all live copies (a same-
            # version tombstone would have won the tie and the key
            # would not be live), so marking every copy is sound — a
            # duplicated delivery's copies overlay to identical images.
            kept, _ = self.prune_plan(filters, current_gen)
            marks = (
                self._read_buckets(kept, schema=phys_schema, with_pos=True)
                .join(F.broadcast(live), ["_id", "version_"], "inner")
                .select("_dv_file", "_dv_pos")
                .localCheckpoint(eager=True)
            )
            touched = sorted(
                r.b
                for r in marks.select(
                    F.regexp_extract(
                        F.col("_dv_file"), r"_bucket=([^/]+)/", 1
                    ).alias("b")
                )
                .distinct()
                .collect()
            )
            gen, out = self._claim_generation()
            rel = os.path.join(gen, "_dv")
            marks.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.path, rel)
            )
            new_dvs = {b: list(rs) for b, rs in raw.get("dvs", {}).items()}
            for b in touched:
                new_dvs.setdefault(b, []).append(rel)
            mf = {
                k: v
                for k, v in raw.items()
                if k
                in (
                    "buckets", "n_buckets", "schema", "stats", "fstats",
                    "blooms", "deltas", "colmap", "retired",
                )
            }
            mf["dvs"] = new_dvs
            mf["commit"] = {
                "operation": "DELETE",
                "ts_ms": int(time.time() * 1000),
                "mode": "dv",
                "deleted_keys": n,
                "touched_buckets": len(touched),
            }
            self._write_manifest(out, mf)
            if not self._try_commit(current_gen, gen, locked=True):
                raise CommitConflict(
                    "dv delete lost the commit race under the lock "
                    "(another writer bypassed the protocol?)"
                )
            return n
        finally:
            self._release_commit_lock(lock)

    def update_where(
        self, filters, assignments: dict[str, str], write_mode: str = "cow"
    ) -> int:
        """UPDATE ... SET ... WHERE: rewrite every live matching row
        with ``assignments`` (column -> SQL expression over the row)
        applied, at version+1.  Standard SQL UPDATE semantics: every
        right-hand side sees the OLD row, regardless of assignment
        order.  Generated columns not explicitly assigned recompute
        from the updated row (Delta UPDATE behavior).  Returns the
        number of updated keys.  ``write_mode="mor"`` appends the
        rewritten rows as delta layers instead of rewriting the
        touched buckets."""
        matching = self.read_where(filters)
        if matching is None:
            return 0
        upd = matching.filter(~F.col("deleted"))
        for col in assignments:
            if col in ("_id", "version_", "deleted"):
                raise ValueError(f"cannot assign protected column {col!r}")
        unknown = sorted(set(assignments) - set(upd.columns))
        if unknown:
            # Delta UPDATE refuses unknown columns; silently dropping a
            # typo'd assignment would report n updated keys with no
            # visible effect
            raise ValueError(f"UPDATE assigns unknown columns {unknown}")
        upd = upd.select(
            *[
                F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
                for c in upd.columns
            ]
        )
        for col, expr in self.generated_columns().items():
            if col not in assignments:
                upd = upd.withColumn(col, F.expr(expr))
        upd = upd.withColumn(
            "version_", F.col("version_") + 1
        ).localCheckpoint(eager=True)
        n = upd.count()
        if n:
            self.merge(upd, write_mode=write_mode)
        return n

    def _commit_ts_ms(self, generation: str) -> int:
        """Commit wall time: the manifest's recorded ts_ms, falling
        back to the millisecond stamp in the generation name."""
        try:
            ts = self._manifest_raw(generation).get("commit", {}).get("ts_ms")
            if ts is not None:
                return int(ts)
        except FileNotFoundError:
            pass
        try:
            return int(generation.split("-")[1])
        except (IndexError, ValueError):
            return 0

    def partitions(self, generation: str | None = None) -> DataFrame | None:
        """Per-bucket rollup of ``files()`` (the Iceberg ``partitions``
        metadata table): file/layer counts, bytes, and stats-known rows
        per bucket — the skew/fragmentation inspection surface."""
        df = self.files(generation)
        if df is None:
            return None
        return (
            df.groupBy("bucket")
            .agg(
                F.count("*").alias("n_files"),
                F.sum(
                    F.when(F.col("layer") == "delta", 1).otherwise(0)
                ).cast("long").alias("n_delta_files"),
                F.sum(
                    F.when(F.col("layer") == "dv", 1).otherwise(0)
                ).cast("long").alias("n_dv_files"),
                F.sum("size_bytes").alias("total_bytes"),
                F.sum("n_rows").alias("stats_rows"),
            )
            .orderBy("bucket")
        )

    def files(self, generation: str | None = None) -> DataFrame | None:
        """Metadata table of every file the generation references
        (Iceberg ``files`` / Delta DESCRIBE DETAIL inspection surface):
        ``(generation, bucket, layer, path, size_bytes, n_rows)`` where
        layer is base/delta/dv.  Built from manifests + directory
        listings — O(#files) metadata, no data file opened; n_rows
        comes from the committed footer stats when present (base files
        of stats-bearing commits), else null.  File count stays
        bounded by buckets x referenced generations, which
        ``maybe_optimize`` keeps small on continuous streams."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        raw = self._manifest_raw(gen)
        fstats = raw.get("fstats", {})
        entries = []

        def _list(rel: str, bucket: str, layer: str):
            d = os.path.join(self.path, rel)
            if not os.path.isdir(d):
                return
            per_file = fstats.get(bucket, {}) if layer == "base" else {}
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".parquet"):
                    continue
                st = per_file.get(fn)
                rows = (
                    max((c.get("n_rows", 0) for c in st.values()), default=None)
                    if st
                    else None
                )
                entries.append(
                    (
                        gen,
                        bucket,
                        layer,
                        os.path.join(rel, fn),
                        os.path.getsize(os.path.join(d, fn)),
                        rows,
                    )
                )

        for b, rel in sorted(raw.get("buckets", {}).items()):
            _list(rel, b, "base")
        for b, rels in sorted(raw.get("deltas", {}).items()):
            for rel in rels:
                _list(rel, b, "delta")
        seen = set()
        for b, rels in sorted(raw.get("dvs", {}).items()):
            for rel in rels:
                if rel not in seen:  # one sidecar can mark many buckets
                    seen.add(rel)
                    _list(rel, b, "dv")
        return self.spark.createDataFrame(
            entries,
            "generation string, bucket string, layer string, "
            "path string, size_bytes long, n_rows long",
        )

    def count_rows(self, generation: str | None = None) -> int | None:
        """O(metadata) state row count (Delta numRecords / Iceberg
        snapshot-summary parity): pure copy-on-write buckets answer
        from the committed footer stats — no file opened, no Spark job
        (deletion vectors never change the row count; the overlay
        flips flags on existing rows).  Merge-on-read buckets
        reconcile at read time, so only THOSE pay a real counting
        read.  Returns None on an empty table."""
        gen = generation or self.current_generation()
        if gen is None:
            return None
        manifest = self.manifest(gen)
        deltas = self.deltas(gen)
        stats = self.bucket_stats(gen)
        total = 0
        need_scan = [b for b in deltas if b not in manifest]
        for b in manifest:
            ent = stats.get(b)
            if b in deltas or not ent:
                need_scan.append(b)
                continue
            # every file carries _id, so the max per-column n_rows is
            # the bucket's row count even across schema evolution
            total += max((c.get("n_rows", 0) for c in ent.values()), default=0)
        if need_scan:
            df = self._bucket_state(gen, sorted(set(need_scan)))
            if df is not None:
                total += df.count()
        return total

    def referenced_generations(self, generation: str | None = None) -> set[str]:
        """Generation dirs the given (default current) manifest pulls
        data from — the fragmentation measure incremental merges grow
        and OPTIMIZE resets to 1."""
        gen = generation or self.current_generation()
        if gen is None:
            return set()
        return {rel.split(os.sep, 1)[0] for rel in self._all_rels(gen)}

    def maybe_optimize(
        self, max_refs: int, vacuum_keep: int = 3
    ) -> str | None:
        """Auto-OPTIMIZE policy (Delta auto-compaction analog): when
        the current manifest references more than ``max_refs``
        generations, compact into one self-contained generation and
        reference-aware-vacuum the garbage.  A long-running streaming
        writer calls this per batch to keep read fan-in and disk
        growth bounded; a no-op otherwise.  Returns the compacted
        generation name, or None if below threshold."""
        if len(self.referenced_generations()) <= max_refs:
            return None
        gen = self.compact()
        self.vacuum(keep=vacuum_keep)
        return gen

    # -- vacuum ---------------------------------------------------------

    def vacuum(
        self,
        keep: int = 3,
        dry_run: bool = False,
        retention_ms: int | None = None,
    ) -> list[str]:
        """Drop old generations, but NEVER data still referenced by a
        retained generation: the retained set is (newest ``keep``
        generations + current + every generation committed within
        ``retention_ms``, when given — the ``VACUUM ... RETAIN``
        time-based guard; time only EXTENDS protection, it never
        shrinks the keep-count set), closed transitively over manifest
        references, so every retained generation remains readable.
        ``dry_run=True`` (VACUUM DRY RUN) only reports what would be
        removed.  Returns removed (or removable) generation names."""
        import shutil

        current = self.current_generation()
        gens = self.generations()
        kept = set(gens[-keep:]) if keep else set()
        if current:
            kept.add(current)
        if retention_ms is not None:
            cutoff = int(time.time() * 1000) - retention_ms
            for g in gens:
                if self._commit_ts_ms(g) >= cutoff:
                    kept.add(g)
        # transitive closure over flattened manifest references
        work = list(kept)
        while work:
            g = work.pop()
            try:
                rels = self._all_rels(g)
            except FileNotFoundError:
                # an in-flight generation claimed by a concurrent writer
                # has no manifest yet — keep it, reference nothing
                continue
            for rel in rels:
                ref_gen = rel.split(os.sep, 1)[0]
                if ref_gen not in kept:
                    kept.add(ref_gen)
                    work.append(ref_gen)
        removable = [g for g in gens if g not in kept]
        if dry_run:
            return removable
        for g in removable:
            shutil.rmtree(os.path.join(self.path, g))
        return removable

    # -- compaction (OPTIMIZE analog) -----------------------------------

    def clone(self, dest_path: str) -> "SilverTable":
        """Zero-copy snapshot export (the SHALLOW CLONE analog): the
        current generation's manifest is copied to a fresh table root
        and every referenced data file is HARDLINKED (byte-copy only
        when linking fails, e.g. across filesystems).  The clone is a
        fully independent table — source merges/vacuum/compact never
        disturb it, because vacuum unlinks the source's names while the
        clone's links keep the inodes alive.  Cost is O(#files)
        metadata, not O(data) — the cheap dev/test/backup fork of a
        100 TB table."""
        import shutil

        gen = self.current_generation()
        if gen is None:
            raise ValueError("cannot clone an empty silver table")
        manifest = self.manifest(gen)
        all_rels = self._all_rels(gen)
        os.makedirs(os.path.join(dest_path, gen), exist_ok=True)
        for rel in set(all_rels):
            src_dir = os.path.join(self.path, rel)
            dst_dir = os.path.join(dest_path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                s = os.path.join(src_dir, fn)
                d = os.path.join(dst_dir, fn)
                if os.path.isfile(s) and not os.path.exists(d):
                    try:
                        os.link(s, d)
                    except OSError:  # cross-device: fall back to copy
                        shutil.copy2(s, d)
        # every generation dir the clone materializes must carry its own
        # manifest (with n_buckets), or generations()/vacuum()/time-travel
        # on the clone hit manifest-less dirs and crash; referenced older
        # generations get their source manifest copied verbatim
        clone_mf = {
            "buckets": manifest,
            "n_buckets": self.n_buckets,
            "commit": {
                "operation": "CLONE",
                "ts_ms": int(time.time() * 1000),
                "source": self.path,
            },
        }
        src_raw = self._manifest_raw(gen)
        for carried in (
            "schema", "stats", "fstats", "blooms", "deltas", "dvs",
            "colmap", "retired",
        ):
            if carried in src_raw:
                clone_mf[carried] = src_raw[carried]
        self._write_manifest(os.path.join(dest_path, gen), clone_mf)
        for rel in set(all_rels):
            ref_gen = rel.split(os.sep, 1)[0]
            dst_mf = os.path.join(dest_path, ref_gen, "manifest.json")
            src_mf = os.path.join(self.path, ref_gen, "manifest.json")
            if not os.path.exists(dst_mf) and os.path.exists(src_mf):
                shutil.copy2(src_mf, dst_mf)
        # table-level declarative config travels with the clone:
        # CHECK constraints, generated columns, bloom index config
        # (Delta shallow clones carry table properties the same way)
        for cfg in ("_CONSTRAINTS", "_GENERATED", "bloom.json"):
            s = os.path.join(self.path, cfg)
            if os.path.exists(s):
                shutil.copy2(s, os.path.join(dest_path, cfg))
        clone = SilverTable(self.spark, dest_path, n_buckets=self.n_buckets)
        tmp = clone._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"generation": gen}, f)
        os.replace(tmp, clone._pointer)
        return clone

    def compact(
        self,
        max_records_per_file: int | None = None,
        cluster_by: list[str] | None = None,
        n_buckets: int | None = None,
    ) -> str | None:
        """Rewrite the current state into one fully self-contained
        generation (every bucket materialized locally, no cross-
        generation references).  The Delta OPTIMIZE analog: after many
        incremental merges the current manifest references many old
        generations, which reference-aware vacuum must then retain;
        compacting makes them garbage so ``vacuum`` can reclaim them.
        ``max_records_per_file`` bounds output file size (the OPTIMIZE
        target-file-size knob): Spark rolls to a new file within the
        task once the cap is hit, so buckets split into uniformly
        sized files instead of one giant file per bucket.

        ``cluster_by`` is the OPTIMIZE ZORDER analog: rows sort within
        each bucket by the given columns before writing, so the files
        a bucket splits into hold DISJOINT value ranges — per-file
        footer stats then make ``read_where`` open only the files a
        range predicate can match.  Pass column names, or Column
        expressions (e.g. ``operators/zorder.py::zorder_key`` for a
        true two-dimensional Morton clustering).
        Returns the new generation name (None on an empty table).

        ``n_buckets`` re-buckets the table (the partition-evolution
        analog): the rewrite is total anyway, so changing the hash
        fan-out is free here — and the only place it is allowed, since
        incremental merges must agree with the persisted count.  Every
        handle adopts the persisted count before its next merge.

        Commits through the same optimistic CAS as ``merge``: a
        compaction racing a merge retries against the merged state
        instead of silently discarding the merge (Delta's OPTIMIZE
        conflict behavior)."""
        import shutil

        if n_buckets is not None and n_buckets <= 0:
            raise ValueError("n_buckets must be positive")
        for attempt in range(6):
            locked = attempt == 5  # final attempt: pessimistic
            lock = self._acquire_commit_lock(timeout=300.0) if locked else None
            try:
                current_gen = self.current_generation()
                if current_gen is None:
                    return None
                if n_buckets is not None:
                    self.n_buckets = n_buckets
                else:
                    persisted = self._persisted_n_buckets()
                    if persisted is not None:
                        self.n_buckets = persisted
                cmap = self.colmap(current_gen)
                prev_raw = self._manifest_raw(current_gen)
                state = self._bucket_state(current_gen).withColumn(
                    "_bucket", self._bucket_col()
                )
                gen, out = self._claim_generation()
                clustered = state.repartition(self.n_buckets, "_bucket")
                if cluster_by:
                    clustered = clustered.sortWithinPartitions(
                        "_bucket", *cluster_by
                    )
                # files store physical names (column mapping); the
                # rename is a projection, so the cluster order holds
                writer = self._to_physical(clustered, cmap).write
                if max_records_per_file is not None:
                    writer = writer.option(
                        "maxRecordsPerFile", max_records_per_file
                    )
                writer.partitionBy("_bucket").mode("overwrite").parquet(out)
                buckets = {
                    d.split("=", 1)[1]: os.path.join(gen, d)
                    for d in os.listdir(out)
                    if d.startswith("_bucket=")
                }
                bstats, fstats = self._harvest_stats(out)
                mf = {
                    "buckets": buckets,
                    "n_buckets": self.n_buckets,
                    "schema": self._schema_json(state),
                    "stats": bstats,
                    "fstats": fstats,
                    "blooms": self._harvest_blooms(list(buckets.values())),
                    "commit": {
                        "operation": "OPTIMIZE",
                        "ts_ms": int(time.time() * 1000),
                        "touched_buckets": len(buckets),
                        "n_buckets": self.n_buckets,
                    },
                }
                if cmap is not None:
                    mf["colmap"] = cmap
                    mf["retired"] = prev_raw.get("retired", [])
                self._write_manifest(out, mf)
                if self._try_commit(current_gen, gen, locked=locked):
                    return gen
                shutil.rmtree(out, ignore_errors=True)
            finally:
                if lock is not None:
                    self._release_commit_lock(lock)
        raise CommitConflict("compact lost the commit race 6 times")

    @staticmethod
    def _schema_json(df: DataFrame) -> str:
        """The table schema committed with a generation's manifest —
        ``_bucket`` is the physical partition key, not a table column."""
        from pyspark.sql.types import StructType

        fields = [f for f in df.schema.fields if f.name != "_bucket"]
        return json.dumps(StructType(fields).jsonValue())

    #: reader features this code understands (Delta protocol
    #: readerFeatures parity).  A manifest stamped with a feature
    #: OUTSIDE this set was written by newer code whose generations
    #: this reader would silently misread (e.g. a pre-DV reader would
    #: return deleted rows as live) — refuse loudly instead.  Shared
    #: with the CDF streaming source's pure-Python manifest loaders
    #: (pipeline/features.py) so both gates can never drift apart.
    _READER_FEATURES = READER_FEATURES

    @staticmethod
    def _stamp_features(mf: dict) -> dict:
        feats = []
        if mf.get("deltas"):
            feats.append("mor")
        if mf.get("dvs"):
            feats.append("dv")
        if mf.get("colmap"):
            feats.append("colmap")
        if feats:
            mf["features"] = feats
        else:
            mf.pop("features", None)
        return mf

    def _write_manifest(self, gen_dir: str, mf: dict) -> None:
        with open(os.path.join(gen_dir, "manifest.json"), "w") as f:
            json.dump(self._stamp_features(mf), f)

    def _manifest_json(self, generation: str) -> dict:
        """Parsed manifest of ``generation`` (no feature gate), served
        from the mtime/size-keyed parse cache.  Raises FileNotFoundError
        exactly like the direct open it replaces."""
        p = os.path.join(self.path, generation, "manifest.json")
        st = os.stat(p)  # FileNotFoundError propagates, as before
        key = (p, st.st_mtime_ns, st.st_size)
        raw = _MANIFEST_CACHE.get(key)
        if raw is None:
            with open(p) as f:
                raw = json.load(f)
            while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
            _MANIFEST_CACHE[key] = raw
        return raw

    def _manifest_raw(self, generation: str) -> dict:
        from huracan_spark.pipeline.features import check_reader_features

        return check_reader_features(
            self._manifest_json(generation), generation
        )

    @staticmethod
    def _align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Schema evolution (Delta ``mergeSchema`` semantics): each
        side's missing columns are added as typed nulls so stored state
        and an evolved batch union under one merged schema — a batch
        may ADD columns (old rows read them as null) or OMIT columns
        (an old writer; its rows get nulls).  A column whose types
        differ across the sides WIDENS when the change is lossless
        (Delta type widening: up the integer chain, float→double,
        sub-long integers→double); the committed schema adopts the
        wider type while already-written narrow files stay put —
        Spark 4's parquet readers apply the promotion at scan time
        (probed: INT32 pages read fine under a bigint/double read
        schema), so no rewrite is ever needed.  Lossy or unrelated
        changes (long→int, string→int, ...) raise, as in Delta."""
        at, bt = dict(a.dtypes), dict(b.dtypes)
        wide: dict[str, str] = {}
        for c in at.keys() & bt.keys():
            if at[c] == bt[c]:
                continue
            w = SilverTable._widened_type(at[c], bt[c])
            if w is None:
                raise ValueError(
                    f"column {c!r}: cannot merge type {bt[c]} into "
                    f"{at[c]} — only lossless widenings are supported "
                    "(tinyint<smallint<int<bigint, float<double, "
                    "sub-long integers<double)"
                )
            wide[c] = w

        # ONE select per side instead of a withColumn per column: each
        # withColumn is a full Catalyst re-analysis of the (often deep)
        # merge lineage, and this runs on every COW merge against
        # stored state — O(cols) analyses -> O(1) (driver latency per
        # commit, guide §5).  Same output exactly: widened casts keep
        # their position, the other side's missing columns append as
        # typed nulls in that side's column order.
        def _project(df, own, other):
            cols, changed = [], False
            for c, t in own.items():
                w = wide.get(c)
                if w is not None and t != w:
                    cols.append(F.col(c).cast(w).alias(c))
                    changed = True
                else:
                    cols.append(F.col(c))
            for c, t in other.items():
                if c not in own:
                    cols.append(F.lit(None).cast(t).alias(c))
                    changed = True
            return df.select(*cols) if changed else df

        return _project(a, at, bt), _project(b, bt, at)

    def _merged_schema_json(self, prev_schema, cur_schema) -> str:
        """The committed-schema computation — exactly what
        ``_align_schemas(createDataFrame([], prev_schema), merged)``'s
        second return would carry — done purely on StructTypes.  The
        DataFrame form cost a createDataFrame plus Catalyst analyses of
        the full merge lineage PER COMMIT, all to derive a schema
        (driver latency, guide §5).  Falls back to the DataFrame path
        (returns None) when a prev-only column has a non-atomic type,
        where ``lit(None).cast(simpleString)`` nullability-inside-
        containers semantics would be fiddly to replicate exactly."""
        from pyspark.sql.types import (
            ArrayType,
            MapType,
            StructField,
            StructType,
        )

        _WIDENED = {
            "tinyint": "byte",
            "smallint": "short",
            "int": "integer",
            "bigint": "long",
            "float": "float",
            "double": "double",
        }
        import pyspark.sql.types as T

        prev = {f.name: f for f in prev_schema.fields}
        cur_names = {f.name for f in cur_schema.fields}
        fields = []
        for f in cur_schema.fields:
            if f.name == "_bucket":
                continue
            p = prev.get(f.name)
            tb = f.dataType.simpleString()
            if p is None or p.dataType.simpleString() == tb:
                fields.append(f)
                continue
            ta = p.dataType.simpleString()
            w = self._widened_type(ta, tb)
            if w is None:
                raise ValueError(
                    f"column {f.name!r}: cannot merge type {tb} into "
                    f"{ta} — only lossless widenings are supported "
                    "(tinyint<smallint<int<bigint, float<double, "
                    "sub-long integers<double)"
                )
            if tb == w:
                fields.append(f)
            else:
                # cast keeps the column's position, nullability and
                # (empty) alias metadata — widening casts never fail
                wt = getattr(T, _WIDENED[w].capitalize() + "Type")()
                fields.append(StructField(f.name, wt, f.nullable))
        for f in prev_schema.fields:
            if f.name in cur_names or f.name == "_bucket":
                continue
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                return None  # exotic: take the exact DataFrame path
            # lit(None).cast(t): nullable, metadata-free
            fields.append(StructField(f.name, f.dataType, True))
        return json.dumps(StructType(fields).jsonValue())

    _INT_CHAIN = ("tinyint", "smallint", "int", "bigint")

    @staticmethod
    def _widened_type(ta: str, tb: str) -> str | None:
        """The common lossless type of two Spark dtypes, or None.
        bigint→double is refused (doubles hold 53 mantissa bits)."""
        if ta == tb:
            return ta
        chain = SilverTable._INT_CHAIN
        if ta in chain and tb in chain:
            return chain[max(chain.index(ta), chain.index(tb))]
        floats = {"float", "double"}
        if ta in floats and tb in floats:
            return "double"
        small = set(chain[:3])
        if (ta in small and tb in floats) or (tb in small and ta in floats):
            return "double"
        return None

    def _claim_generation(self) -> tuple[str, str]:
        """Reserve a fresh generation dir name.  ``mkdir`` is the atomic
        claim — concurrent writers in the same millisecond get distinct
        names instead of clobbering each other's data."""
        ts = int(time.time() * 1000)
        seq = 0
        while True:
            gen = f"gen-{ts}" if seq == 0 else f"gen-{ts}-{seq:03d}"
            out = os.path.join(self.path, gen)
            try:
                os.makedirs(out)
                return gen, out
            except FileExistsError:
                seq += 1

    # -- merge ----------------------------------------------------------

    def merge(
        self,
        batch: DataFrame,
        collect_metrics: bool = False,
        max_commit_attempts: int = 6,
        on_violation: str = "fail",
        write_mode: str = "cow",
        _locked: bool = False,
    ) -> MergeMetrics | None:
        """Versioned MERGE of a batch of silver-shaped rows (K1/K2).

        The batch may contain multiple versions per _id and duplicate
        rows — ``merge_into`` pre-reduces, exactly as K1 requires
        unique source keys (SURVEY §7.2).  Only buckets containing
        batch keys are read and rewritten.

        CONCURRENT writers are safe: the commit is an optimistic
        compare-and-swap on the ``_CURRENT`` pointer.  A writer that
        loses the race removes its orphan generation and re-merges
        against the winner's state (versioned MERGE is commutative, so
        the retry converges).  Optimistic losers escalate: the final
        attempt holds the commit lock for its whole read-merge-commit
        span, so heavy write contention degrades to serialized merges
        instead of livelocking (the Delta protocol's conflict-retry,
        with a pessimistic backstop).

        CHECK constraints (``add_check``) are enforced on the batch
        once, before any commit attempt: ``on_violation`` is "fail"
        (raise ConstraintViolation — Delta CHECK behavior), "drop"
        (merge only passing rows), or "quarantine" (drop + append the
        violations and their violated-constraint names to the
        table-local quarantine, readable via ``read_quarantine``).

        ``write_mode`` picks the physical strategy (Hudi/Iceberg
        table-type parity):

        - ``"cow"`` (copy-on-write, default): read + rewrite the
          touched buckets — reads stay reconciliation-free.  A COW
          merge also ABSORBS any merge-on-read deltas its touched
          buckets carry.
        - ``"mor"`` (merge-on-read): never read stored state — the
          pre-reduced batch lands as a per-bucket DELTA layer and
          readers reconcile with the same total order.  Write IO is
          O(batch) instead of O(touched buckets): the
          high-frequency-small-batch streaming regime where COW write
          amplification dominates.  Reads of delta'd buckets pay one
          extra reduce until ``compact()`` (or a COW merge) absorbs
          the layers; ``maybe_optimize`` bounds the depth."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write_mode {write_mode!r}")
        batch, synthetic = self._apply_generated(batch)
        # Persist only when something reads the batch more than once:
        # a CHECK/generated-column validation pass, merge metrics, or
        # a COW merge against existing state (touched-bucket pre-scan
        # + rewrite).  A merge that never reads stored state (MOR, or
        # the first merge into an empty table) runs as ONE pass: the
        # batch streams straight into the bucket write and the touched
        # buckets fall out of the written dirs — at scale one corpus
        # pass instead of two (and no cache of the full batch).
        cached = None
        if (
            bool(synthetic)
            or bool(self.constraints())
            or collect_metrics
            or (write_mode == "cow" and self.current_generation() is not None)
        ):
            cached = batch = batch.persist()
        try:
            batch, quarantined = self._enforce_constraints(
                batch, on_violation, extra=synthetic
            )
            if quarantined is not None:
                quarantined.write.mode("append").parquet(
                    os.path.join(self.path, "_quarantine")
                )
            batch = batch.withColumn("_bucket", self._bucket_col())
            # _locked=True: the caller already holds the commit lock
            # (replay_quarantine's read-merge-rewrite span) — go
            # straight to the pessimistic attempt; re-acquiring would
            # self-deadlock and optimistic CAS is pointless under an
            # exclusively-held lock
            for _ in range(0 if _locked else max(max_commit_attempts - 1, 0)):
                done, metrics = self._merge_attempt(
                    batch,
                    collect_metrics,
                    write_mode=write_mode,
                    batch_cached=cached is not None,
                )
                if done:
                    return metrics
                if cached is None:
                    # lost the commit race: retries merge against the
                    # winner's state (a pre-scan pass) — cache the
                    # batch for them
                    cached = batch = batch.persist()
            lock = (
                None if _locked else self._acquire_commit_lock(timeout=300.0)
            )
            try:
                done, metrics = self._merge_attempt(
                    batch,
                    collect_metrics,
                    locked=True,
                    write_mode=write_mode,
                    batch_cached=cached is not None,
                )
            finally:
                if lock is not None:
                    self._release_commit_lock(lock)
            if done:
                return metrics
            raise CommitConflict(
                f"merge lost the commit race {max_commit_attempts} times"
            )
        finally:
            if cached is not None:
                cached.unpersist()

    def _merge_attempt(
        self,
        batch: DataFrame,
        collect_metrics: bool,
        locked: bool = False,
        write_mode: str = "cow",
        batch_cached: bool = True,
    ) -> tuple[bool, MergeMetrics | None]:
        # _local_cache: the inner attempt appends any persist() it
        # takes out itself (the merge()-raced-into-two-pass case, r10
        # ADVICE) so it is always released, on every return/raise path
        local_cache: list[DataFrame] = []
        try:
            return self._merge_attempt_inner(
                batch,
                collect_metrics,
                locked=locked,
                write_mode=write_mode,
                batch_cached=batch_cached,
                _local_cache=local_cache,
            )
        finally:
            for df in local_cache:
                df.unpersist()

    def _merge_attempt_inner(
        self,
        batch: DataFrame,
        collect_metrics: bool,
        locked: bool = False,
        write_mode: str = "cow",
        batch_cached: bool = True,
        _local_cache: list | None = None,
    ) -> tuple[bool, MergeMetrics | None]:
        import shutil

        persisted = self._persisted_n_buckets()
        if persisted is not None and persisted != self.n_buckets:
            # a re-bucketing compact() committed a different bucket
            # count (possibly after this handle opened): adopt it and
            # re-bucket the batch, or keys would land in wrong buckets
            self.n_buckets = persisted
            batch = batch.withColumn("_bucket", self._bucket_col())
        current_gen = self.current_generation()
        prev_manifest = self.manifest(current_gen) if current_gen else {}
        prev_raw = self._manifest_raw(current_gen) if current_gen else {}
        prev_deltas = prev_raw.get("deltas", {})

        # single-pass: when no stored state is read (MOR never does;
        # an empty table has none) and no metrics are wanted, skip the
        # touched-bucket pre-scan entirely — the batch streams straight
        # into the partitioned write and the touched buckets fall out
        # of the written dirs (one pass over the batch, not two)
        single_pass = not collect_metrics and (
            write_mode == "mor" or current_gen is None
        )
        if not single_pass and not batch_cached and _local_cache is not None:
            # merge() skipped the persist because the table looked
            # empty (single-pass eligible) when it checked; a
            # concurrent writer landed the first commit since, so this
            # attempt walks the two-pass COW path — persist HERE so
            # the touched-bucket pre-scan and the write read one
            # materialization (a nondeterministic batch lineage could
            # otherwise diverge between the two passes; r10 ADVICE)
            batch = batch.persist()
            _local_cache.append(batch)
        if single_pass:
            touched: list | None = None
            touched_set: set = set()
            state = None
            merged = merge_into(
                batch.limit(0), batch, key="_id", version="version_"
            )
            metrics = None
        else:
            touched = sorted(
                r._bucket for r in batch.select("_bucket").distinct().collect()
            )
            if not touched:
                # empty batch (common for streaming micro-batches):
                # nothing to merge — do NOT mint a no-op generation per
                # trigger
                metrics = (
                    MergeMetrics(inserted=0, modified=0, unchanged=0)
                    if collect_metrics
                    else None
                )
                return True, metrics
            touched_set = {str(b) for b in touched}
            existing_touched = [
                b
                for b in touched
                if str(b) in prev_manifest or str(b) in prev_deltas
            ]
            if write_mode == "mor":
                # merge-on-read: never read stored state — pre-reduce
                # the batch (same in-batch total order as merge_into)
                # and land it as a delta layer; reads reconcile
                merged = merge_into(
                    batch.limit(0), batch, key="_id", version="version_"
                )
                state = None
            elif existing_touched:
                # copy-on-write: reconciled state read absorbs any
                # deltas the touched buckets carry
                state = self._bucket_state(
                    current_gen, existing_touched
                ).withColumn("_bucket", self._bucket_col())
                state, batch = self._align_schemas(state, batch)
                merged = merge_into(
                    state, batch, key="_id", version="version_"
                )
            else:
                state = None
                merged = merge_into(
                    batch.limit(0), batch, key="_id", version="version_"
                )
            metrics = None
            if collect_metrics:
                if state is not None:
                    old = state.select(
                        "_id", F.col("version_").alias("_old_v")
                    )
                elif existing_touched:
                    old = self._bucket_state(
                        current_gen, existing_touched
                    ).select("_id", F.col("version_").alias("_old_v"))
                else:
                    old = batch.select(
                        "_id", F.col("version_").alias("_old_v")
                    ).limit(0)
                bat = batch.groupBy("_id").agg(
                    F.max("version_").alias("_new_v")
                )
                counts = (
                    bat.join(old, "_id", "left")
                    .agg(
                        F.sum(
                            F.when(F.col("_old_v").isNull(), 1).otherwise(0)
                        ).alias("ins"),
                        F.sum(
                            F.when(
                                F.col("_new_v") > F.col("_old_v"), 1
                            ).otherwise(0)
                        ).alias("mod"),
                        F.sum(
                            F.when(
                                F.col("_new_v") <= F.col("_old_v"), 1
                            ).otherwise(0)
                        ).alias("unch"),
                    )
                    .first()
                )
                metrics = MergeMetrics(
                    inserted=counts.ins or 0,
                    modified=counts.mod or 0,
                    unchanged=counts.unch or 0,
                )

        gen, out = self._claim_generation()
        cmap_new, retired = self._evolve_colmap(
            prev_raw, [c for c in merged.columns if c != "_bucket"]
        )
        # one shuffle on the bucket id clusters the write so partitionBy
        # emits a contiguous file group per bucket; untouched buckets
        # never move.  Files store PHYSICAL column names (column
        # mapping): a logical rename never has to rewrite them.
        (
            self._to_physical(merged, cmap_new)
            .repartition(
                self.n_buckets if touched is None else max(len(touched), 1),
                "_bucket",
            )
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out)
        )
        written = {
            d.split("=", 1)[1]: os.path.join(gen, d)
            for d in os.listdir(out)
            if d.startswith("_bucket=")
        }
        if touched is None:
            if not written:
                # empty batch discovered post-write (single-pass):
                # nothing to merge — release the claimed generation
                # instead of committing a no-op (streaming no-op
                # trigger contract)
                shutil.rmtree(out, ignore_errors=True)
                return True, None
            touched = sorted(written, key=int)
            touched_set = set(written)
        if write_mode == "mor":
            # bases stay put; each written dir stacks as the bucket's
            # next delta layer (or becomes the base of a fresh bucket)
            buckets = dict(prev_manifest)
            deltas = {b: list(ds) for b, ds in prev_deltas.items()}
            for b, rel in written.items():
                if b in buckets:
                    deltas.setdefault(b, []).append(rel)
                else:
                    buckets[b] = rel
        else:
            buckets = {
                b: rel
                for b, rel in prev_manifest.items()
                if b not in touched_set
            }
            buckets.update(written)
            # the rewrite absorbed any deltas the touched buckets had
            deltas = {
                b: list(ds)
                for b, ds in prev_deltas.items()
                if b not in touched_set
            }
        prev_dvs = prev_raw.get("dvs", {})
        if write_mode == "mor":
            # delta layers stack ABOVE the overlaid base: deletion
            # vectors keep applying to the files they mark
            dvs_new = {b: list(rs) for b, rs in prev_dvs.items()}
        else:
            # the cow state read was DV-aware, so the rewrite of a
            # touched bucket materialized its overlay — drop its DV
            dvs_new = {
                b: list(rs)
                for b, rs in prev_dvs.items()
                if b not in touched_set
            }
        # stats maintenance is O(touched), like the merge: rewritten
        # buckets harvest fresh footer stats, untouched buckets carry
        # their previous entry (same bytes -> same stats)
        prev_stats = prev_raw.get("stats", {})
        prev_fstats = prev_raw.get("fstats", {})
        prev_blooms = prev_raw.get("blooms", {})
        untouched = [
            b for b in set(buckets) | set(deltas) if b not in touched_set
        ]
        stats = {b: prev_stats[b] for b in untouched if b in prev_stats}
        fstats = {b: prev_fstats[b] for b in untouched if b in prev_fstats}
        blooms = {b: prev_blooms[b] for b in untouched if b in prev_blooms}
        new_bstats, new_fstats = self._harvest_stats(out)
        if write_mode == "mor":
            bloom_rels = []
            for b, rel in written.items():
                if b in deltas and deltas[b] and deltas[b][-1] == rel:
                    # delta layer: bucket stats widen conservatively
                    # over base+deltas; per-file stats/blooms drop —
                    # file-level pruning is unsound in a reconciled
                    # bucket (a pruned stale file can resurrect)
                    m = skipping.merge_persisted(
                        prev_stats.get(b), new_bstats.get(b)
                    )
                    if m is not None:
                        stats[b] = m
                else:
                    if b in new_bstats:
                        stats[b] = new_bstats[b]
                    if b in new_fstats:
                        fstats[b] = new_fstats[b]
                    bloom_rels.append(rel)
            blooms.update(self._harvest_blooms(bloom_rels))
        else:
            stats.update(new_bstats)
            fstats.update(new_fstats)
            # bloom bitmaps follow the same O(touched) maintenance
            blooms.update(self._harvest_blooms(list(written.values())))
        # the committed schema must stay a (widened) superset of every
        # generation's files in EVERY mode: a batch that omits columns
        # and lands only in fresh buckets must not shrink the table
        # schema (untouched buckets still hold the column), and a
        # widened column type must be adopted table-wide so old narrow
        # files read under the promoted type
        prev_schema = self.table_schema(current_gen) if current_gen else None
        if prev_schema is not None:
            schema_json = self._merged_schema_json(prev_schema, merged.schema)
            if schema_json is None:  # exotic prev-only column types
                empty = self.spark.createDataFrame([], prev_schema)
                _, schema_df = self._align_schemas(empty, merged)
                schema_json = self._schema_json(schema_df)
        else:
            schema_json = self._schema_json(merged)
        mf = {
            "buckets": buckets,
            "n_buckets": self.n_buckets,
            "schema": schema_json,
            "stats": stats,
            "fstats": fstats,
            "blooms": blooms,
            "deltas": deltas,
            "dvs": dvs_new,
            "commit": {
                "operation": "MERGE",
                "ts_ms": int(time.time() * 1000),
                "touched_buckets": len(touched),
                "mode": write_mode,
            },
        }
        if cmap_new is not None:
            mf["colmap"] = cmap_new
            mf["retired"] = retired
        self._write_manifest(out, mf)
        if self._try_commit(current_gen, gen, locked=locked):
            return True, metrics
        # lost the race — but if the winner(s) touched DISJOINT buckets,
        # our merged data is still exactly right: splice our touched
        # entries onto the winner's manifest and commit that (O(metadata)
        # rebase — Delta's file-level conflict resolution) instead of
        # re-running the whole merge job
        if not locked and self._try_rebase_commit(
            current_gen, gen, out, touched_set
        ):
            return True, metrics
        # genuine conflict: roll back our orphan generation and re-merge
        # on top of the winner's state
        shutil.rmtree(out, ignore_errors=True)
        return False, None

    def _try_rebase_commit(
        self,
        read_gen: str | None,
        gen: str,
        out: str,
        touched_set: set,
        max_attempts: int = 4,
    ) -> bool:
        """Conflict resolution for a lost commit race: when every bucket
        we touched is UNCHANGED between our read snapshot and the
        current winner (bases, deltas, and schema all equal), our merge
        result is still the correct post-image for those buckets — so
        rebase: take the winner's manifest, overwrite our touched
        buckets' entries (data refs + stats + blooms) with ours, and
        CAS again.  Anything else (overlapping buckets, OPTIMIZE/
        RESTORE in between, schema drift) returns False and the caller
        falls back to a full re-merge."""
        with open(os.path.join(out, "manifest.json")) as f:
            ours = json.load(f)
        snap = self._manifest_raw(read_gen) if read_gen else {}
        for _ in range(max_attempts):
            winner = self.current_generation()
            if winner in (read_gen, gen) or winner is None:
                return False
            try:
                wr = self._manifest_raw(winner)
            except FileNotFoundError:
                return False
            if wr.get("schema") != snap.get("schema"):
                return False  # concurrent schema change: re-merge
            if wr.get("colmap") != snap.get("colmap") or wr.get(
                "n_buckets"
            ) != snap.get("n_buckets"):
                # concurrent rename/drop or re-bucketing: our written
                # files don't match the winner's physical layout
                return False
            wb, wd = wr.get("buckets", {}), wr.get("deltas", {})
            sb, sd = snap.get("buckets", {}), snap.get("deltas", {})
            wv, sv = wr.get("dvs", {}), snap.get("dvs", {})
            if any(
                wb.get(b) != sb.get(b)
                or wd.get(b) != sd.get(b)
                or wv.get(b) != sv.get(b)
                for b in touched_set
            ):
                return False  # true overlap: winner moved our buckets
            rebased = {
                "buckets": dict(wb),
                "deltas": dict(wd),
                "dvs": dict(wv),
                "n_buckets": self.n_buckets,
                "schema": ours.get("schema", wr.get("schema")),
                "stats": dict(wr.get("stats", {})),
                "fstats": dict(wr.get("fstats", {})),
                "blooms": dict(wr.get("blooms", {})),
                "commit": {
                    **ours.get("commit", {}),
                    "rebased_on": winner,
                },
            }
            for carried in ("colmap", "retired"):
                if carried in wr:
                    rebased[carried] = wr[carried]
            for b in touched_set:
                for key in (
                    "buckets", "deltas", "dvs", "stats", "fstats", "blooms",
                ):
                    if b in ours.get(key, {}):
                        rebased[key][b] = ours[key][b]
                    else:
                        rebased[key].pop(b, None)
            self._write_manifest(out, rebased)
            if self._try_commit(winner, gen):
                return True
        return False
