"""Output checks in DuckDB, an engine independent of Spark. Each function
returns how many of the given loads committed a wrong output."""

from __future__ import annotations

import glob
import json
import os

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def parquet_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))


#: a row's hash; summed over a table it is the fingerprint of that multiset
#: of rows, so a dropped, duplicated or altered row changes count or sum
_HOURLY_ROW_HASH = "hash(event_id, ts_us, user_id, kind, value, hour)::HUGEINT"


def hourly_expected(con, event_paths: list[str], min_value: float) -> tuple[int, int]:
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE hourly_expected AS
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, kind, value,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour
        FROM read_parquet({event_paths}) WHERE value >= {min_value}"""
    )
    return tuple(
        con.execute("SELECT count(*), sum(hour) FROM hourly_expected").fetchone()
    )


def hourly_outputs(con, loads: list[dict], expected: tuple[int, int]) -> int:
    """Multiset of every output row (with its bucket directory) against the
    input, by row count and fingerprint, and the F2 invariant: each bucket
    directory holds exactly one hour, the one its name carries. One scan of
    each output does both."""
    want = con.execute(
        f"SELECT count(*), sum({_HOURLY_ROW_HASH}) FROM hourly_expected"
    ).fetchone()
    wrong = 0
    for load in (ld for ld in loads if ld["ok"]):
        files = parquet_files(load["out"])
        if not files or tuple(load["read"]) != expected:
            wrong += 1
            continue
        rows, fingerprint, mixed_buckets = con.execute(
            f"""WITH a AS (
                  SELECT event_id, epoch_us(ts) AS ts_us, user_id, kind, value,
                         CAST(__bucket AS BIGINT) AS hour
                  FROM read_parquet({files}, hive_partitioning = true)),
                b AS (
                  SELECT hour, count(*) AS n, sum({_HOURLY_ROW_HASH}) AS fp,
                         min(CAST(floor(ts_us / 3600e6) AS BIGINT)) AS lo,
                         max(CAST(floor(ts_us / 3600e6) AS BIGINT)) AS hi
                  FROM a GROUP BY hour)
                SELECT sum(n), sum(fp), count(*) FILTER (WHERE lo <> hour OR hi <> hour) FROM b"""
        ).fetchone()
        wrong += (rows, fingerprint) != want or mixed_buckets != 0
    return wrong


def merge_live_state(con, state_path: str) -> list[tuple]:
    """The committed live merge state, read from the current manifest's bucket
    directories on disk: its ``(k, v, seq)`` rows, sorted. A key the sink
    left live twice shows as two rows."""
    manifest = merge_manifest(state_path, merge_version(state_path))
    files = [
        f
        for rel in manifest["buckets"].values()
        for f in parquet_files(os.path.join(state_path, rel))
    ]
    rows = con.execute(
        f"SELECT k, v, seq FROM read_parquet({files}) WHERE deleted IS NULL OR NOT deleted"
    ).fetchall()
    return sorted(rows)


def merge_version(state_path: str) -> int:
    with open(os.path.join(state_path, "_CURRENT")) as fh:
        return int(json.load(fh)["version"])


def merge_manifest(state_path: str, version: int) -> dict:
    with open(os.path.join(state_path, "_manifests", f"v{version}.json")) as fh:
        return json.load(fh)


def merge_outputs(con, state_path: str, loads: list[dict], model_live: dict) -> int:
    """Each increment's post-commit read (live aggregate and its change feed)
    against the generator's model, and the final live state against the
    model's final state. A wrong final state counts as one more wrong output.
    The model assumes every increment committed, so after a failed load the
    final state is expected to disagree."""
    wrong = 0
    for load in (ld for ld in loads if ld["ok"]):
        agg, changes = load["read"]
        wrong += (
            tuple(agg) != tuple(load["facts"]["agg"])
            or sorted(map(tuple, changes)) != load["facts"]["changes"]
        )
    model_rows = sorted((k, v, seq) for k, (v, seq) in model_live.items())
    return wrong + (merge_live_state(con, state_path) != model_rows)
