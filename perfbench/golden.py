"""Independent DuckDB reference for every output the benchmark checks.

Silver state follows FIXTURES.md §4: per object the change with the
highest version among kept changes (created/mutated/deleted) whose
content fetch succeeded; a deletion beats a live row at the same
version; a version whose content is missing or errored falls back to
the next lower one.  Backfill phase B is bounded the way
``apply_checkpoint_bounds`` is documented: checkpoints completed by
phase A, and everything at or below the stop marker, are skipped.
API answers are recomputed with SQL over the reference state current
at the moment of the request."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from gen import DYNFIELD_PREFIX, SILVER_COLUMNS

_PAYLOAD = SILVER_COLUMNS[4:]


class Golden:
    def __init__(self, inputs_dir: str, meta: dict):
        self.meta = meta
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        p = lambda name: os.path.join(inputs_dir, name).replace("'", "''")  # noqa: E731
        self.con.execute(f"CREATE TABLE content AS SELECT * FROM read_parquet('{p('content.parquet')}')")
        self.con.execute(f"CREATE TABLE changes_a AS SELECT * FROM read_parquet('{p('changes_a.parquet')}')")
        self.con.execute(f"CREATE TABLE changes_b AS SELECT * FROM read_parquet('{p('changes_b.parquet')}')")
        self.con.execute(f"CREATE TABLE stream AS SELECT * FROM read_parquet('{p('stream/*.parquet')}')")
        self.con.execute(f"CREATE TABLE upserts AS SELECT * FROM read_parquet('{p('upserts.parquet')}')")
        # checkpoints phase A completes: every cp with no dead-lettered
        # (live change without a content row) change
        self.con.execute(
            """CREATE TABLE completed_a AS
            SELECT DISTINCT cp AS checkpoint_id FROM changes_a
            WHERE cp NOT IN (
              SELECT k.cp FROM changes_a k
              LEFT JOIN content c ON k.object_id = c.object_id AND k.version = c.version
              WHERE k.change_type IN ('created', 'mutated') AND c.object_id IS NULL)"""
        )
        self._state_sql_cache: dict[tuple, str] = {}

    def completed_a(self) -> set[int]:
        return {r[0] for r in self.con.execute("SELECT checkpoint_id FROM completed_a").fetchall()}

    def _state_sql(self, backfill: bool, stream_cps: int, upserts: int) -> str:
        parts = []
        if backfill:
            parts.append("SELECT object_id, version, change_type FROM changes_a")
            parts.append(
                "SELECT object_id, version, change_type FROM changes_b "
                f"WHERE cp > {int(self.meta['stop_cp'])} "
                "AND cp NOT IN (SELECT checkpoint_id FROM completed_a)"
            )
        if stream_cps:
            last = self.meta["stream_cps"][stream_cps - 1]
            parts.append(f"SELECT object_id, version, change_type FROM stream WHERE cp <= {int(last)}")
        payload = ", ".join(f"CASE WHEN k.deletion THEN NULL ELSE c.{col} END AS {col}" for col in _PAYLOAD)
        changes = " UNION ALL ".join(parts) if parts else (
            "SELECT object_id, version, change_type FROM changes_a WHERE false"
        )
        return f"""
        WITH kept AS (
          SELECT DISTINCT object_id, version, change_type = 'deleted' AS deletion
          FROM ({changes}) WHERE change_type IN ('created', 'mutated', 'deleted')
        ), candidates AS (
          SELECT k.object_id AS _id, k.version AS version_, k.deletion AS deleted, {payload}
          FROM kept k LEFT JOIN content c
            ON k.object_id = c.object_id AND k.version = c.version
          WHERE k.deletion OR (c.object_id IS NOT NULL AND c.rpc_error IS NULL)
          UNION ALL
          SELECT _id, version_, deleted, {", ".join(_PAYLOAD)} FROM upserts WHERE batch < {int(upserts)}
        )
        SELECT _id, w.version_, w.deleted, {", ".join(f"w.{c}" for c in _PAYLOAD)}
        FROM (
          SELECT _id, arg_max(struct_pack(version_, deleted, {", ".join(_PAYLOAD)}),
                              version_ * 2 + deleted::BIGINT) AS w
          FROM candidates GROUP BY _id
        )
        """

    def materialize(self, backfill: bool, stream_cps: int, upserts: int) -> None:
        """Make table ``st`` the reference state after the given inputs."""
        key = (backfill, stream_cps, upserts)
        if self._state_sql_cache.get("current") == key:
            return
        self.con.execute(f"CREATE OR REPLACE TABLE st AS {self._state_sql(*key)}")
        self._state_sql_cache["current"] = key

    def state_rows(self, backfill: bool, stream_cps: int, upserts: int) -> dict[str, tuple]:
        self.materialize(backfill, stream_cps, upserts)
        cols = ", ".join(["_id", "version_", "deleted", *_PAYLOAD])
        return {r[0]: _norm(r) for r in self.con.execute(f"SELECT {cols} FROM st").fetchall()}

    # -- API answers ----------------------------------------------------

    def answer(self, req: dict, upserts: int, stream_cps: int) -> list:
        self.materialize(True, stream_cps, upserts)
        op = req["op"]
        live = "SELECT * FROM st WHERE NOT deleted"
        q = self.con.execute
        if op == "object":
            rows = q(f"SELECT _id, version_ FROM ({live}) WHERE _id = ? LIMIT 1", [req["id"]]).fetchall()
        elif op == "ids":
            rows = q(f"SELECT _id, version_ FROM ({live}) WHERE list_contains(?, _id) ORDER BY _id LIMIT 50", [req["ids"]]).fetchall()
        elif op == "owner":
            rows = q(
                f"SELECT _id, version_ FROM ({live}) WHERE owner_kind IN ('AddressOwner', 'ObjectOwner') "
                "AND owner_address = ? ORDER BY _id LIMIT 50", [req["owner"]]).fetchall()
        elif op == "owners":
            rows = q(
                f"SELECT _id, version_ FROM ({live}) WHERE owner_kind IN ('AddressOwner', 'ObjectOwner') "
                "AND list_contains(?, owner_address) ORDER BY _id LIMIT 50", [req["owners"]]).fetchall()
        elif op in ("type", "deep_page"):
            rows = q(
                f"SELECT _id, version_ FROM ({live}) WHERE starts_with(object_type, ?) "
                "ORDER BY _id LIMIT 50 OFFSET ?", [req["type"], int(req.get("skip", 0))]).fetchall()
        elif op == "types":
            a, b = req["types"]
            rows = q(
                f"SELECT _id, version_ FROM ({live}) WHERE starts_with(object_type, ?) "
                "OR starts_with(object_type, ?) ORDER BY _id LIMIT 50", [a, b]).fetchall()
        elif op == "dynfield":
            rows = q(
                f"""SELECT p._id, p.version_ FROM ({live}) f JOIN ({live}) p ON f.owner_address = p._id
                WHERE starts_with(f.object_type, '{DYNFIELD_PREFIX}')
                  AND json_extract_string(f.fields_json, '$.value.fields.owner') = ?
                ORDER BY p._id LIMIT 50""", [req["value"]]).fetchall()
        elif op == "dynamic_fields":
            rows = q(
                f"""SELECT owner_address, _id, json_extract_string(fields_json, '$.name') FROM ({live})
                WHERE starts_with(object_type, '{DYNFIELD_PREFIX}') AND list_contains(?, owner_address)
                ORDER BY owner_address, _id LIMIT 50""", [req["parents"]]).fetchall()
        elif req["agg"] == "count_per_type":
            rows = sorted(q(f"SELECT object_type, count(*) FROM ({live}) GROUP BY 1").fetchall())
        else:
            rows = sorted(q(f"SELECT DISTINCT object_type FROM ({live})").fetchall())
        return [tuple(r) for r in rows]


def _norm(row) -> tuple:
    """Comparable form of a silver row: pandas/DuckDB nulls become None."""
    return tuple(None if (v is None or (isinstance(v, float) and v != v) or v is pd.NA) else v for v in row)


def diff_state(got: dict[str, tuple], exp: dict[str, tuple], limit: int = 3) -> list[str]:
    """Human-readable mismatches between two {_id: row} maps (empty = equal)."""
    out = []
    missing = [k for k in exp if k not in got]
    extra = [k for k in got if k not in exp]
    bad = [k for k in exp if k in got and got[k] != exp[k]]
    if missing:
        out.append(f"{len(missing)} objects missing, e.g. {missing[:limit]}")
    if extra:
        out.append(f"{len(extra)} unexpected objects, e.g. {extra[:limit]}")
    if bad:
        k = bad[0]
        out.append(f"{len(bad)} objects differ, e.g. {k}: got {got[k]} expected {exp[k]}")
    return out
