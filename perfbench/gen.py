"""Seeded input generator for the benchmark, cached on disk per (seed, size).

Builds on ``huracan_spark.pipeline.fixtures`` (the FIXTURES.md §1-§3
corpus) and adds what a benchmark needs on top of it:

* hot keys: a few shared objects (a clock, some pools) mutated at
  almost every checkpoint, as Sui's clock and AMM pools are;
* a replay batch (phase B) that overlaps the end of the corpus and adds
  newer versions, so a second backfill merges against existing state;
* per-checkpoint stream files for the chain-paced stream;
* silver-shaped upsert batches and a request list for the API client,
  with owners and object ids drawn from Zipf distributions.

The program under test only ever sees the files written here.
Generation runs before any timed region and is skipped when the cache
already holds the inputs for this seed and size.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes shape, so old caches are not reused
GEN_VERSION = 5

DYNFIELD_PREFIX = "0x2::dynamic_field::Field<"
KEPT = ("created", "mutated", "deleted")
SILVER_COLUMNS = [
    "_id", "version_", "version_hex", "deleted", "object_type", "owner_kind",
    "owner_address", "initial_shared_version", "digest",
    "previous_transaction", "storage_rebate", "fields_json", "bcs_b64",
]
CONTENT_PAYLOAD = [
    "object_type", "owner_kind", "owner_address", "initial_shared_version",
    "digest", "previous_transaction", "storage_rebate", "has_public_transfer",
    "fields_json", "bcs_b64",
]
_HOT_TYPES = [
    "0x2::clock::Clock",
    "0xa1::pool::Pool<0x2::sui::SUI>",
    "0xb2::pool::Pool<0x1::string::String>",
    "0xc3::pool::Pool<0x2::sui::SUI>",
]
_BASE_TS = 1_700_000_000_000


@dataclass(frozen=True)
class Size:
    """Input sizes; one size is used by every workload so a seed's
    inputs are generated once and shared."""

    n_objects: int = 3000
    n_checkpoints: int = 300  # corpus (phase A) checkpoints
    replay_overlap: int = 50  # phase B re-sends the last cps of A ...
    replay_new: int = 60  # ... and adds this many newer cps
    replay_objects: int = 900  # objects given newer versions in B
    hot_objects: int = 4
    stream_files: int = 320  # one file per checkpoint after B
    stream_changes: int = 12  # non-hot changes per stream checkpoint
    upserts: int = 120  # serve-phase upsert batches
    upsert_rows: int = 6
    requests: int = 4000  # serve-phase request list length


def cache_key(seed: int, size: Size) -> str:
    blob = json.dumps({"v": GEN_VERSION, **asdict(size)}, sort_keys=True)
    return f"seed{seed}-{hashlib.sha256(blob.encode()).hexdigest()[:10]}"


def _hex_id(tag: str) -> str:
    return "0x" + hashlib.sha256(tag.encode()).hexdigest()


def _b58(rng: np.random.Generator, n: int) -> list[str]:
    alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    idx = rng.integers(0, len(alphabet), size=(n, 20))
    return ["".join(alphabet[c] for c in row) for row in idx]


class _Chain:
    """Mutable generator state: the latest content template and next
    version of every live object, so later phases only ever move
    objects forward and never resurrect a tombstone."""

    def __init__(self, rng: np.random.Generator, content: pd.DataFrame, changes: pd.DataFrame):
        self.rng = rng
        kept = changes[changes.change_type.isin(KEPT)]
        top = kept.sort_values("version").groupby("object_id").tail(1)
        self.next_version = {o: 100 for o in top.object_id}
        self.deleted = set(top.object_id[top.change_type == "deleted"])
        tmpl = content[content.rpc_error.isna()].sort_values("version")
        tmpl = tmpl.groupby("object_id").tail(1).set_index("object_id")
        self.template = {o: r for o, r in zip(tmpl.index, tmpl[CONTENT_PAYLOAD].to_dict("records"))}
        self.live = sorted(o for o in self.template if o not in self.deleted)
        self.new_seq = 0
        self.hot: set[str] = set()

    def bump(self, oid: str) -> int:
        v = self.next_version[oid]
        self.next_version[oid] = v + 1
        return v

    def content_row(self, oid: str, version: int) -> dict:
        base = dict(self.template[oid])
        rng = self.rng
        base["digest"] = _b58(rng, 1)[0]
        base["previous_transaction"] = _b58(rng, 1)[0]
        base["bcs_b64"] = base64.b64encode(hashlib.sha256(f"{oid}:{version}".encode()).digest()).decode()
        if not base["object_type"].startswith(DYNFIELD_PREFIX):
            fields = json.loads(base["fields_json"]) if base["fields_json"] else {}
            fields["balance"] = int(rng.integers(0, 10**9))
            base["fields_json"] = json.dumps(fields)
        return {"object_id": oid, "version": version, **base, "rpc_error": None}

    def new_object(self) -> str:
        """A freshly created object cloned from a random live template."""
        src = self.live[int(self.rng.integers(0, len(self.live)))]
        oid = _hex_id(f"bench-new-{self.new_seq}")
        self.new_seq += 1
        self.template[oid] = dict(self.template[src])
        self.next_version[oid] = 1
        self.live.append(oid)
        return oid


def _change(cp: int, ctype: str, oid: str, version: int, rng: np.random.Generator, route: str = "livescan") -> dict:
    ts = _BASE_TS + cp * 1000 + int(rng.integers(0, 900))
    return {
        "cp": cp, "tx_digest": _b58(rng, 1)[0], "change_type": ctype,
        "object_id": oid, "version": version, "ts_sui": ts,
        "ts_first_seen": ts + int(rng.integers(10, 2000)), "ingested_via": route,
    }


def _hot_rows(cps, hot_ids, chain: _Chain, rng) -> tuple[list[dict], list[dict]]:
    """Hot objects: mutated in ~90% of checkpoints, versions rising with cp."""
    changes, content = [], []
    for cp in cps:
        for oid in hot_ids:
            first = chain.next_version[oid] == 1
            if not first and rng.random() > 0.9:
                continue
            v = chain.bump(oid)
            changes.append(_change(cp, "created" if first else "mutated", oid, v, rng))
            content.append(chain.content_row(oid, v))
    return changes, content


def _add_hot_objects(chain: _Chain, n: int) -> list[str]:
    ids = []
    for k in range(n):
        oid = _hex_id(f"bench-hot-{k}")
        chain.template[oid] = {
            "object_type": _HOT_TYPES[k % len(_HOT_TYPES)], "owner_kind": "Shared",
            "owner_address": None, "initial_shared_version": 1, "digest": "",
            "previous_transaction": "", "storage_rebate": "0",
            "has_public_transfer": False, "fields_json": json.dumps({"tick": 0}),
            "bcs_b64": "",
        }
        chain.next_version[oid] = 1
        chain.live.append(oid)
        chain.hot.add(oid)
        ids.append(oid)
    return ids


def _new_versions(cps, n_changes, chain: _Chain, rng, missing_frac=0.01, error_frac=0.02):
    """Random forward changes spread over ``cps``: mostly mutations,
    some creations and deletions, a few same-version delete/live flips
    (the tombstone must win), exact duplicates and dropped change types."""
    changes, content = [], []
    for _ in range(n_changes):
        cp = int(cps[int(rng.integers(0, len(cps)))])
        r = rng.random()
        if r < 0.08:
            oid = chain.new_object()
            ctype = "created"
        else:
            oid = chain.live[int(rng.integers(0, len(chain.live)))]
            ctype = "deleted" if r > 0.97 else "mutated"
        v = chain.bump(oid)
        changes.append(_change(cp, ctype, oid, v, rng, ("poll", "livescan")[int(rng.integers(0, 2))]))
        if ctype == "deleted":
            chain.deleted.add(oid)
            chain.live.remove(oid)
            continue
        if rng.random() < 0.01:  # same-version flip: tombstone wins the tie
            changes.append(_change(cp, "deleted", oid, v, rng))
            chain.deleted.add(oid)
            chain.live.remove(oid)
        if rng.random() < missing_frac:
            continue  # no content row: dead-lettered, state falls back
        row = chain.content_row(oid, v)
        if rng.random() < error_frac:
            row["rpc_error"] = "not_exists"
        content.append(row)
    # duplicates and dropped change types ride along
    for src in [changes[int(i)] for i in rng.integers(0, len(changes), size=max(1, len(changes) // 25))]:
        dup = dict(src)
        dup["ingested_via"] = "poll" if src["ingested_via"] == "livescan" else "livescan"
        changes.append(dup)
    for _ in range(max(1, len(changes) // 30)):
        cp = int(cps[int(rng.integers(0, len(cps)))])
        oid = chain.live[int(rng.integers(0, len(chain.live)))]
        changes.append(_change(cp, ("wrapped", "transferred")[int(rng.integers(0, 2))], oid, 99, rng))
    return changes, content


def _silver_row(oid: str, version: int, deleted: bool, content: dict | None) -> dict:
    row = {"_id": oid, "version_": version, "version_hex": "0x" + format(version, "x"), "deleted": deleted}
    for c in SILVER_COLUMNS[4:]:
        row[c] = None if deleted or content is None else content[c]
    return row


def _zipf_pick(rng, n: int, size: int, a: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def _interleave(weights: list[int], n: int) -> list[int]:
    """Deterministic smooth round-robin over op indexes by weight."""
    credit = [0] * len(weights)
    total = sum(weights)
    out = []
    for _ in range(n):
        for i, w in enumerate(weights):
            credit[i] += w
        k = max(range(len(weights)), key=lambda i: credit[i])
        credit[k] -= total
        out.append(k)
    return out


def _requests(rng, chain: _Chain, content: pd.DataFrame, n: int) -> list[dict]:
    """A fixed request mix for the API client (op name + arguments)."""
    # Zipf over objects: hot objects first, then the rest in a seeded order
    hot = [o for o in chain.live if o in chain.hot]
    rest = [o for o in chain.live if o not in chain.hot]
    pool = hot + [rest[int(j)] for j in rng.permutation(len(rest))]
    owners = (
        content[content.owner_kind.isin(["AddressOwner"]) & content.owner_address.notna()]
        .owner_address.value_counts().index.tolist()
    )
    dyn = content[content.object_type.str.startswith(DYNFIELD_PREFIX)]
    parents = sorted(set(dyn.owner_address.dropna()))
    owned_parents = sorted({
        json.loads(f)["value"]["fields"]["owner"]
        for f in dyn.fields_json
        if f and '"owner"' in f
    })
    prefixes = ["0x2::coin", "0xa1::pool", "0xb2::", "0x3::nft::Nft", "0xc3::token", "0x2::clock"]
    mix = [
        ("object", 25), ("ids", 10), ("owner", 15), ("owners", 5), ("type", 10),
        ("types", 5), ("dynfield", 8), ("dynamic_fields", 8), ("deep_page", 6), ("agg", 4),
    ]
    # the op sequence is the same for every seed (a fixed interleaving of
    # the mix, so every prefix has its proportions); only the arguments
    # come from the seed
    names = [m for m, _ in mix]
    ops = _interleave([w for _, w in mix], n)
    out = []
    for i in ops:
        op = names[int(i)]
        if op == "object":
            args = {"id": pool[int(_zipf_pick(rng, len(pool), 1)[0])]}
        elif op == "ids":
            args = {"ids": [pool[int(j)] for j in _zipf_pick(rng, len(pool), 5)]}
        elif op == "owner":
            args = {"owner": owners[int(_zipf_pick(rng, len(owners), 1)[0])]}
        elif op == "owners":
            args = {"owners": [owners[int(j)] for j in _zipf_pick(rng, len(owners), 3)]}
        elif op == "type":
            args = {"type": prefixes[int(rng.integers(0, len(prefixes)))]}
        elif op == "types":
            args = {"types": [prefixes[int(j)] for j in rng.choice(len(prefixes), 2, replace=False)]}
        elif op == "dynfield":
            args = {"value": owned_parents[int(rng.integers(0, len(owned_parents)))]}
        elif op == "dynamic_fields":
            args = {"parents": [parents[int(j)] for j in rng.choice(len(parents), 3, replace=False)]}
        elif op == "deep_page":
            args = {"type": "0x", "skip": int(rng.integers(1000, 3000))}
        else:
            args = {"agg": ("count_per_type", "distinct_types")[int(rng.integers(0, 2))]}
        out.append({"op": op, **args})
    return out


def generate(out_dir: str, seed: int, size: Size) -> dict:
    """Write every input of one seed into ``out_dir``; return the meta."""
    from huracan_spark.pipeline.fixtures import FixtureConfig
    from huracan_spark.pipeline.fixtures import generate as fixtures_generate

    base_dir = os.path.join(out_dir, "_fixtures")
    fixtures_generate(base_dir, FixtureConfig(seed=seed, n_objects=size.n_objects, n_checkpoints=size.n_checkpoints))
    changes_a = pd.read_parquet(os.path.join(base_dir, "object_changes.parquet"))
    content = pd.read_parquet(os.path.join(base_dir, "objects_content.parquet"))
    shutil.rmtree(base_dir)

    rng = np.random.default_rng([seed, 7919])
    chain = _Chain(rng, content, changes_a)
    hot_ids = _add_hot_objects(chain, size.hot_objects)
    n_a = size.n_checkpoints
    hot_ch, hot_co = _hot_rows(range(1, n_a + 1), hot_ids, chain, rng)
    changes_a = pd.concat([changes_a, pd.DataFrame(hot_ch)], ignore_index=True)
    extra_content = list(hot_co)

    # phase B: re-send the tail of A, then newer checkpoints
    new_cps = np.arange(n_a + 1, n_a + size.replay_new + 1)
    replay = changes_a[changes_a.cp > n_a - size.replay_overlap]
    hot_ch, hot_co = _hot_rows(new_cps, hot_ids, chain, rng)
    new_ch, new_co = _new_versions(new_cps, size.replay_objects, chain, rng)
    changes_b = pd.concat([replay, pd.DataFrame(hot_ch + new_ch)], ignore_index=True)
    changes_b = changes_b.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    extra_content += hot_co + new_co
    stop_cp = n_a - size.replay_overlap + 10  # stop marker inside the overlap

    # stream: one file per checkpoint after B
    first = n_a + size.replay_new + 1
    stream_rows = []
    for cp in range(first, first + size.stream_files):
        hot_ch, hot_co = _hot_rows([cp], hot_ids, chain, rng)
        new_ch, new_co = _new_versions([cp], size.stream_changes, chain, rng)
        stream_rows += hot_ch + new_ch
        extra_content += hot_co + new_co
    stream = pd.DataFrame(stream_rows)

    content = pd.concat([content, pd.DataFrame(extra_content)], ignore_index=True)
    content["initial_shared_version"] = content["initial_shared_version"].astype("Int64")

    # serve-phase upserts: silver-shaped rows, hot objects and Zipf picks
    upserts = []
    for b in range(size.upserts):
        picks = hot_ids[: 2] + [chain.live[int(j)] for j in _zipf_pick(rng, len(chain.live), size.upsert_rows - 2)]
        for oid in dict.fromkeys(picks):
            if oid in chain.deleted:
                continue
            v = chain.bump(oid)
            dead = oid not in hot_ids and rng.random() < 0.03
            upserts.append({"batch": b, **_silver_row(oid, v, dead, None if dead else chain.content_row(oid, v))})
            if dead:
                chain.deleted.add(oid)
                chain.live.remove(oid)
    upserts = pd.DataFrame(upserts)
    upserts["initial_shared_version"] = upserts["initial_shared_version"].astype("Int64")

    requests = _requests(rng, chain, content, size.requests)

    def _changes(df: pd.DataFrame) -> pd.DataFrame:
        df = df.copy()
        df["ts_sui"] = df["ts_sui"].astype("Int64")
        for c in ("cp", "version", "ts_first_seen"):
            df[c] = df[c].astype("int64")
        return df

    os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
    _changes(changes_a).to_parquet(os.path.join(out_dir, "changes_a.parquet"), index=False)
    _changes(changes_b).to_parquet(os.path.join(out_dir, "changes_b.parquet"), index=False)
    content.to_parquet(os.path.join(out_dir, "content.parquet"), index=False)
    stream = _changes(stream).sort_values("cp", kind="stable", ignore_index=True)
    table = pa.Table.from_pandas(stream, preserve_index=False)
    cps, starts = np.unique(stream.cp.to_numpy(), return_index=True)
    for cp, a, b in zip(cps, starts, [*starts[1:], len(stream)]):
        pq.write_table(table.slice(a, b - a), os.path.join(out_dir, "stream", f"cp{cp:09d}.parquet"))
    upserts.to_parquet(os.path.join(out_dir, "upserts.parquet"), index=False)
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(requests, f)
    meta = {
        "seed": seed,
        "size": asdict(size),
        "stop_cp": int(stop_cp),
        "hot_ids": hot_ids,
        "stream_cps": [int(c) for c in cps],
        "rows": {
            "changes_a": len(changes_a),
            "changes_b": len(changes_b),
            "content": len(content),
            "stream": len(stream),
            "upserts": len(upserts),
            "requests": len(requests),
        },
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def ensure(cache_root: str, seed: int, size: Size) -> tuple[str, dict, bool]:
    """Return (dir, meta, was_cached), generating into the cache on a miss.
    The directory appears atomically, so an interrupted run leaves no
    half-written inputs behind."""
    final = os.path.join(cache_root, cache_key(seed, size))
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return final, json.load(f), True
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = generate(tmp, seed, size)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final, meta, False
