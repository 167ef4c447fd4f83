"""Keyed DELETE through the merge sink (r14, VERDICT r13 item 2):
tombstone upserts retire a key from standing state without a snapshot
rewrite — marker rows ride the same keyed argmax as upserts (so replays
cannot resurrect a newer delete), the live read filters them, the CDC feed
classifies live→tombstone as ``delete`` and re-insert as ``insert``, and
``purge_tombstones`` physically reclaims them on the gc-grace schedule."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.errors import ConfigError
from embulk_executor_mapreduce_spark.sinks.changes import (
    materialize_changes,
    table_changes,
)
from embulk_executor_mapreduce_spark.sinks.writer import (
    purge_tombstones,
    read_merge_state,
    write_sink,
)
from embulk_executor_mapreduce_spark.spec import SinkSpec


def _sink(path, **kw):
    return SinkSpec(
        type="parquet",
        path=str(path),
        mode="merge",
        merge_key=("k",),
        merge_order=("rev",),
        merge_buckets=8,
        merge_keep_versions=8,
        delete_column="_deleted",
        **kw,
    )


def _batch(spark, rows):
    """rows: (k, v, rev, deleted)"""
    return spark.createDataFrame(
        rows, "k bigint, v string, rev bigint, _deleted boolean"
    )


def _live(spark, path):
    return {
        (r.k, r.v, r.rev)
        for r in read_merge_state(spark, str(path), delete_col="_deleted")
        .select("k", "v", "rev")
        .collect()
    }


def test_upsert_delete_reinsert_lifecycle(spark, tmp_path):
    p = tmp_path / "state"
    s = _sink(p)
    write_sink(_batch(spark, [(1, "a", 0, False), (2, "b", 0, False), (3, "c", 0, False)]), s)
    write_sink(_batch(spark, [(2, None, 1, True)]), s)  # retire key 2
    assert _live(spark, p) == {(1, "a", 0), (3, "c", 0)}
    # the tombstone row is RETAINED physically (anti-resurrection state)
    raw = read_merge_state(spark, str(p))
    assert {(r.k, bool(r._deleted)) for r in raw.select("k", "_deleted").collect()} == {
        (1, False),
        (2, True),
        (3, False),
    }
    # re-insert the retired key at a later rev
    write_sink(_batch(spark, [(2, "b2", 2, False)]), s)
    assert _live(spark, p) == {(1, "a", 0), (2, "b2", 2), (3, "c", 0)}


def test_replay_of_old_batch_cannot_resurrect_delete(spark, tmp_path):
    """The reason tombstones are retained: a late redelivery of the
    ORIGINAL insert (lower merge_order) must lose the argmax to the
    newer tombstone, exactly like a stale upsert loses to a newer one."""
    p = tmp_path / "state"
    s = _sink(p)
    original = _batch(spark, [(7, "old", 3, False)])
    write_sink(original, s)
    write_sink(_batch(spark, [(7, None, 5, True)]), s)
    assert _live(spark, p) == set()
    write_sink(original, s)  # late replay of the rev-3 insert
    assert _live(spark, p) == set()
    # and the mirror: a tombstone OLDER than the stored upsert loses
    write_sink(_batch(spark, [(7, None, 1, True)]), s)
    write_sink(_batch(spark, [(8, "live", 9, False)]), s)
    write_sink(_batch(spark, [(8, None, 2, True)]), s)
    assert _live(spark, p) == {(8, "live", 9)}


def test_batch_without_marker_column_is_pure_upsert(spark, tmp_path):
    """Batches need not carry the marker; absent reads as live (NULL →
    coalesce false), including across the schema-evolution rewrite that
    first introduces the column."""
    p = tmp_path / "state"
    s = _sink(p)
    plain = spark.createDataFrame([(1, "a", 0)], "k bigint, v string, rev bigint")
    write_sink(plain, s)  # no marker column yet
    write_sink(_batch(spark, [(2, "b", 1, False), (1, None, 1, True)]), s)
    assert _live(spark, p) == {(2, "b", 1)}


def test_cdc_classifies_delete_and_reinsert(spark, tmp_path):
    """VERDICT r13 item 2's done-bar: replay upsert → delete → re-insert
    across three versions; the per-version feed classifies all three and
    a tombstone for a never-present key produces nothing."""
    p = tmp_path / "state"
    s = _sink(p)
    write_sink(_batch(spark, [(1, "a", 0, False), (2, "b", 0, False)]), s)  # v0
    # v1: delete 2, tombstone never-present 99, update 1
    write_sink(
        _batch(spark, [(2, None, 1, True), (99, None, 1, True), (1, "a2", 1, False)]),
        s,
    )
    write_sink(_batch(spark, [(2, "b3", 2, False)]), s)  # v2: re-insert 2
    feed = table_changes(
        spark, str(p), ["k"], 0, per_version=True, delete_col="_deleted"
    )
    assert "_deleted" not in feed.columns  # marker never leaks into the feed
    got = {
        (r.k, r._commit_version, r._change_type)
        for r in feed.select("k", "_commit_version", "_change_type").collect()
    }
    assert got == {
        (1, 1, "update_preimage"),
        (1, 1, "update_postimage"),
        (2, 1, "delete"),
        (2, 2, "insert"),
    }
    # delete rows carry the retired row's last LIVE payload
    dead = feed.filter(F.col("_change_type") == "delete").collect()
    assert [(r.k, r.v, r.rev) for r in dead] == [(2, "b", 0)]


def test_purge_reclaims_tombstones_and_is_cdc_invisible(spark, tmp_path):
    p = tmp_path / "state"
    s = _sink(p)
    write_sink(
        _batch(spark, [(i, f"v{i}", 0, False) for i in range(20)]), s
    )  # v0
    write_sink(
        _batch(spark, [(i, None, 1, True) for i in range(0, 20, 2)]), s
    )  # v1: retire evens
    live_before = _live(spark, p)
    assert live_before == {(i, f"v{i}", 0) for i in range(1, 20, 2)}
    purged = purge_tombstones(spark, s)
    assert purged == 10
    # live view unchanged; raw view no longer holds the tombstones
    assert _live(spark, p) == live_before
    raw = read_merge_state(spark, str(p))
    assert raw.filter(F.coalesce(F.col("_deleted"), F.lit(False))).count() == 0
    # the purge commit's change feed is EMPTY — physical GC, not logical
    cur = 2  # v0, v1, purge → version 2
    feed = table_changes(
        spark, str(p), ["k"], cur - 1, cur, per_version=True,
        delete_col="_deleted",
    )
    assert feed.count() == 0
    # idempotent: nothing left to purge, no new version committed
    trees = sorted(os.listdir(os.path.join(str(p), "_trees")))
    assert purge_tombstones(spark, s) == 0
    assert sorted(os.listdir(os.path.join(str(p), "_trees"))) == trees


def test_purge_drops_all_tombstone_bucket_from_manifest(spark, tmp_path):
    """A bucket whose every key was retired vanishes from the new manifest
    (no empty-dir artifacts), and the state stays readable."""
    import json

    p = tmp_path / "state"
    s = _sink(p)
    write_sink(_batch(spark, [(1, "a", 0, False)]), s)
    write_sink(_batch(spark, [(1, None, 1, True)]), s)
    assert purge_tombstones(spark, s) == 1
    with open(os.path.join(str(p), "_CURRENT")) as f:
        v = json.load(f)["version"]
    with open(os.path.join(str(p), "_manifests", f"v{v}.json")) as f:
        assert json.load(f)["buckets"] == {}
    # empty committed state reads raise per read_merge_state's existing
    # fail-empty contract (same as a stream whose first batch had no rows)
    with pytest.raises(FileNotFoundError, match="no committed buckets"):
        read_merge_state(spark, str(p))
    # and the state stays writable: a later upsert re-populates it
    write_sink(_batch(spark, [(2, "back", 2, False)]), s)
    assert _live(spark, p) == {(2, "back", 2)}


def test_changelog_records_delete_col_contract(spark, tmp_path):
    """The persisted changelog serves a delete_col read only when it was
    materialized under the SAME delete_col: auto mode degrades on
    mismatch, use_changelog=True raises, and the matched fast path is
    bit-equal to the recompute."""
    p = tmp_path / "state"
    s = _sink(p)
    write_sink(_batch(spark, [(1, "a", 0, False), (2, "b", 0, False)]), s)
    write_sink(_batch(spark, [(2, None, 1, True)]), s)
    done = materialize_changes(spark, str(p), ["k"], delete_col="_deleted")
    assert done == [1]

    def rows(**kw):
        return sorted(
            map(
                tuple,
                table_changes(
                    spark, str(p), ["k"], 0, per_version=True, **kw
                ).collect(),
            ),
            key=repr,
        )

    fast = rows(delete_col="_deleted", use_changelog=True)
    slow = rows(delete_col="_deleted", use_changelog=False)
    assert fast == slow
    assert [t for t in fast if "delete" in t]
    # mismatched contract: explicit read raises, auto degrades to recompute
    with pytest.raises(ValueError, match="delete_col"):
        rows(delete_col=None, use_changelog=True)
    assert rows(delete_col=None) == rows(delete_col=None, use_changelog=False)


def test_bucket_layout_drift_is_rejected(spark, tmp_path):
    """r14 review finding: the pruned merge path loads only the buckets
    the SPEC's hash names — silently changing merge_buckets or
    merge_bucket_columns on an existing state would leave a key's old row
    in a bucket the merge never loads (duplicate keys, no error). The
    committed layout is stamped in the manifest; a drifted spec errors
    unless the caller opts into the explicit full-rewrite migration."""
    import json

    from embulk_executor_mapreduce_spark.sinks.writer import (
        merge_state_layout,
    )

    p = str(tmp_path / "state")

    def sink(buckets, delete_column=None, **opts):
        return SinkSpec(
            type="parquet",
            path=p,
            mode="merge",
            merge_key=("k",),
            merge_order=("rev",),
            merge_buckets=buckets,
            delete_column=delete_column,
            options=opts,
        )

    rows = [(i, f"v{i}", 0, False) for i in range(20)]
    write_sink(_batch(spark, rows), sink(8))
    assert merge_state_layout(p) == {"bucket_columns": ["k"], "n_buckets": 8}
    # drifted bucket count → loud error, state untouched
    with pytest.raises(ConfigError, match="allow_relayout"):
        write_sink(_batch(spark, [(1, "x", 1, False)]), sink(16))
    # explicit migration: full re-bucketing rewrite, no duplicate keys
    write_sink(
        _batch(spark, [(1, "x", 1, False)]), sink(16, allow_relayout=True)
    )
    assert merge_state_layout(p) == {"bucket_columns": ["k"], "n_buckets": 16}
    got = read_merge_state(spark, p).select("k", "v").collect()
    assert len(got) == 20 and {(r.k, r.v) for r in got if r.k == 1} == {(1, "x")}
    # maintenance rewrites carry the layout forward unchanged
    write_sink(
        _batch(spark, [(2, None, 2, True)]),
        sink(16, delete_column="_deleted"),
    )
    purge_tombstones(spark, sink(16, delete_column="_deleted"))
    assert merge_state_layout(p) == {"bucket_columns": ["k"], "n_buckets": 16}


def test_delete_column_validation(spark, tmp_path):
    base = dict(
        type="parquet", path=str(tmp_path / "s"), mode="merge",
        merge_order=("rev",),
    )
    df = _batch(spark, [(1, "a", 0, False)])
    with pytest.raises(ConfigError, match="merge_key"):
        write_sink(
            df,
            SinkSpec(merge_key=("k", "_deleted"), delete_column="_deleted", **base),
        )
    with pytest.raises(ConfigError, match="merge_order"):
        write_sink(
            df,
            SinkSpec(
                merge_key=("k",),
                delete_column="rev",
                **base,
            ),
        )
    with pytest.raises(ConfigError, match="boolean"):
        write_sink(
            df.withColumn("_deleted", F.lit(1)),
            SinkSpec(merge_key=("k",), delete_column="_deleted", **base),
        )
    with pytest.raises(ConfigError, match="delete_column"):
        purge_tombstones(
            spark, SinkSpec(merge_key=("k",), **base)
        )


# --- property pin: the tombstone argmax against a reference model ---------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batches = st.lists(  # a replay: each batch is a list of (key, rev, dead)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # few keys → collisions
            st.integers(min_value=0, max_value=6),   # rev ties included
            st.booleans(),
        ),
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_batches)
def test_tombstone_argmax_matches_reference_model(spark, tmp_path_factory, batches):
    """Property pin (r14): for ANY interleaving of upserts and tombstones
    across batches, the live view equals a trivial reference fold — per
    key, the (rev, generation, payload)-max row wins exactly as for plain
    upserts, and the key is live iff that winner is not a tombstone. The
    batch beats the stored state on full ties (generation), matching the
    documented upsert semantics."""
    p = str(tmp_path_factory.mktemp("prop") / "state")
    s = SinkSpec(
        type="parquet",
        path=p,
        mode="merge",
        merge_key=("k",),
        merge_order=("rev",),
        merge_buckets=4,
        merge_keep_versions=8,
        delete_column="_deleted",
    )
    model: dict[int, tuple] = {}  # k -> (rev, gen_is_batch, v, dead)
    for batch in batches:
        rows = [
            (k, f"b{rev}", rev, dead) for (k, rev, dead) in batch
        ]
        write_sink(_batch(spark, rows), s)
        # model: state rows re-enter each merge with generation 0; batch
        # rows carry generation 1; the winner per key is the plain tuple
        # max over (rev, gen, payload v, marker) — exactly the sink's
        # max(struct(order..., __gen, ride...)) with its deterministic
        # ride-column tie-break
        cand: dict[int, tuple] = {
            k: (rev, 0, v, dead) for k, (rev, _g, v, dead) in model.items()
        }
        for (k, rev, dead) in batch:
            row = (rev, 1, f"b{rev}", dead)
            if k not in cand or row > cand[k]:
                cand[k] = row
        model = cand
    want_live = {
        (k, v, rev)
        for k, (rev, _g, v, dead) in model.items()
        if not dead
    }
    assert _live(spark, p) == want_live


#: the pre-field spellings of the two merge keying fields, as options keys
_OPTION_ALIASES = (
    {"options": {"delete_column": "_deleted"}},
    {"options": {"merge_bucket_columns": ["k"]}},
)


def test_options_alias_rejected_on_merge_sink(spark, tmp_path):
    """delete_column / merge_bucket_columns are SinkSpec fields only; the
    options-dict spelling raises at plan time and on a direct write_sink
    call, naming the field to use, before anything is written — ignoring
    it would merge a tombstone batch as live rows."""
    from embulk_executor_mapreduce_spark.spec import load_spec

    p = str(tmp_path / "s")
    for knob in _OPTION_ALIASES:
        (key,) = knob["options"]
        out = {
            "type": "parquet", "path": p, "mode": "merge",
            "merge_key": ["k"], "merge_order": ["rev"], **knob,
        }
        with pytest.raises(ConfigError, match=f"{key} field instead"):
            load_spec({"in": {"type": "parquet", "path": "/tmp/x"}, "out": out})
        sink = SinkSpec(
            type="parquet", path=p, mode="merge",
            merge_key=("k",), merge_order=("rev",), **knob,
        )
        with pytest.raises(ConfigError, match=f"{key} field instead"):
            write_sink(_batch(spark, [(1, None, 1, True)]), sink)
    assert not os.path.exists(p)


def test_yaml_front_door_merge_delete_fields(spark, tmp_path):
    """out: {mode: merge, delete_column: ..., merge_bucket_columns: ...}
    end to end from load_spec — the YAML surface the r14 scoping note
    deferred: tombstone batches retire keys, the live view reads back,
    and the plan-time ConfigError matrix fires at load_spec."""
    import pytest as _pytest

    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline
    from embulk_executor_mapreduce_spark.spec import load_spec

    out = str(tmp_path / "state")

    def run_batch(rows):
        src = str(tmp_path / "batch")
        spark.createDataFrame(
            rows, "k bigint, v string, rev bigint, _deleted boolean"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        run_pipeline(spark, load_spec({
            "in": {"type": "parquet", "path": src},
            "out": {
                "type": "parquet", "path": out, "mode": "merge",
                "merge_key": ["k"], "merge_order": ["rev"],
                "merge_buckets": 8,
                "delete_column": "_deleted",
                "merge_bucket_columns": ["k"],
            },
        }))

    run_batch([(1, "a", 0, False), (2, "b", 0, False)])
    run_batch([(1, None, 1, True), (3, "c", 1, False)])
    live = read_merge_state(spark, out, delete_col="_deleted")
    assert {(r.k, r.v) for r in live.select("k", "v").collect()} == {
        (2, "b"), (3, "c")
    }
    # plan-time matrix, at load_spec (not first write):
    bad = {
        "in": {"type": "parquet", "path": str(tmp_path / "batch")},
        "out": {
            "type": "parquet", "path": out, "mode": "merge",
            "merge_key": ["k"], "merge_order": ["rev"],
            "delete_column": "rev",
        },
    }
    with _pytest.raises(ConfigError, match="merge_order"):
        load_spec(bad)
    bad["out"]["delete_column"] = "k"
    with _pytest.raises(ConfigError, match="merge_key"):
        load_spec(bad)
    del bad["out"]["delete_column"]
    bad["out"]["merge_bucket_columns"] = ["nokey"]
    with _pytest.raises(ConfigError, match="subset"):
        load_spec(bad)
    # the fields are merge-mode-only
    with _pytest.raises(ConfigError, match="merge-mode"):
        load_spec({
            "in": {"type": "parquet", "path": str(tmp_path / "batch")},
            "out": {
                "type": "parquet", "path": out,
                "delete_column": "_deleted",
            },
        })


def test_options_alias_rejected_on_non_merge_sink_at_plan_time():
    """The options-dict spelling is rejected on non-merge sinks too,
    naming the field — it is never silently ignored."""
    from embulk_executor_mapreduce_spark.spec import load_spec

    for knob in _OPTION_ALIASES:
        (key,) = knob["options"]
        with pytest.raises(ConfigError, match=f"{key} field instead"):
            load_spec({
                "in": {"type": "parquet", "path": "/tmp/x"},
                "out": {"type": "parquet", "path": "/tmp/y", **knob},
            })
