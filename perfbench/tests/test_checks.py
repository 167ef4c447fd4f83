"""The DuckDB output checks, fed outputs written by DuckDB itself: a faithful
output passes, and each deliberately corrupted one raises wrong_outputs."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen


@pytest.fixture
def con():
    c = checks.connect()
    yield c
    c.close()


def _load(out, read, ok=True):
    return {"out": str(out), "read": read, "ok": ok}


def _write_hourly_output(con, out, bucket_sql="hour", rows="hourly_expected"):
    con.execute(
        f"""COPY (SELECT event_id, TIMESTAMP '1970-01-01' + to_microseconds(ts_us) AS ts,
                         user_id, kind, value, {bucket_sql} AS __bucket
                  FROM {rows})
            TO '{out}' (FORMAT PARQUET, PARTITION_BY (__bucket))"""
    )


def test_hourly_check_counts_each_corrupted_output(tmp_path, con):
    info = gen.hourly_events(str(tmp_path / "in"), 3, files=2, rows=2000, hot_share=0.5, tail_days=1)
    expected = checks.hourly_expected(con, info["paths"], 5.0)
    first = "(SELECT min(event_id) FROM hourly_expected)"
    _write_hourly_output(con, tmp_path / "good")
    # one row filed under the next hour's bucket: breaks one hour per bucket
    _write_hourly_output(con, tmp_path / "moved", f"CASE WHEN event_id = {first} THEN hour + 1 ELSE hour END")
    _write_hourly_output(con, tmp_path / "dropped", rows=f"(SELECT * FROM hourly_expected WHERE event_id > {first})")
    _write_hourly_output(
        con, tmp_path / "duplicated",
        rows="(SELECT * FROM hourly_expected UNION ALL (SELECT * FROM hourly_expected LIMIT 1))",
    )
    _write_hourly_output(
        con, tmp_path / "altered",
        rows=f"(SELECT * REPLACE (CASE WHEN event_id = {first} THEN value + 1 ELSE value END AS value)"
        " FROM hourly_expected)",
    )
    good = _load(tmp_path / "good", expected)
    assert checks.hourly_outputs(con, [good], expected) == 0
    loads = [
        good,
        _load(tmp_path / "moved", expected),
        _load(tmp_path / "dropped", expected),
        _load(tmp_path / "duplicated", expected),
        _load(tmp_path / "altered", expected),
        _load(tmp_path / "good", (expected[0] + 1, expected[1])),  # wrong read-back
        _load(tmp_path / "missing", None, ok=False),  # failed: counted as failed, not wrong
    ]
    assert checks.hourly_outputs(con, loads, expected) == 5


def _write_merge_state(root, rows):
    """A one-bucket committed merge state in the sink's on-disk layout."""
    bucket = root / "_trees" / "v1" / "__mbd=0"
    os.makedirs(bucket)
    os.makedirs(root / "_manifests")
    k, v, seq, deleted = zip(*rows)
    pq.write_table(
        pa.table({"k": list(k), "v": list(v), "seq": list(seq), "deleted": list(deleted)}),
        bucket / "part-00000.parquet",
    )
    (root / "_CURRENT").write_text(json.dumps({"version": 1}))
    (root / "_manifests" / "v1.json").write_text(
        json.dumps({"version": 1, "buckets": {"0": "_trees/v1/__mbd=0"}})
    )


def test_merge_check_compares_state_reads_and_changes_with_model(tmp_path, con):
    _write_merge_state(tmp_path / "s", [(1, 700, 1, False), (2, 10, 0, False), (3, 900, 1, True)])
    model = {1: (700, 1), 2: (10, 0)}
    changes = [(1, 700, 1, "insert"), (3, 5, 0, "delete")]
    good = {"ok": True, "read": ((1, 700), changes), "facts": {"agg": (1, 700), "changes": sorted(changes)}}
    assert checks.merge_outputs(con, str(tmp_path / "s"), [good], model) == 0

    lost_change = dict(good, read=((1, 700), changes[:1]))
    assert checks.merge_outputs(con, str(tmp_path / "s"), [good, lost_change], model) == 1
    # a live row the model says was deleted: the final state is wrong
    assert checks.merge_outputs(con, str(tmp_path / "s"), [good], {1: (700, 1)}) == 1


def test_merge_check_counts_a_key_left_live_twice(tmp_path, con):
    model = {1: (700, 1), 2: (10, 0)}
    good = {"ok": True, "read": ((1, 700), []), "facts": {"agg": (1, 700), "changes": []}}
    # the duplicate agrees with the model and sits below HI, so neither the
    # row values nor the per-commit aggregate give it away
    _write_merge_state(tmp_path / "s", [(1, 700, 1, False), (2, 10, 0, False), (2, 10, 0, False)])
    assert checks.merge_outputs(con, str(tmp_path / "s"), [good], model) == 1
