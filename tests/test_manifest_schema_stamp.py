"""Manifest schema stamp (r16 optimization round, guide §1.2/§6).

Every merge commit, keyed probe and state read used to pay a driver-side
file-listing + footer (or full-snapshot) inference pass just to learn a
schema the WRITER already knew at commit time. The manifest now stamps the
committed files' schema (``_stamp_schema``: write frame minus the
partitionBy dir column, relaxed to read-back nullability), and
``merge_state_schema`` / ``read_merge_state`` / the commit path's
evolution check / the maintenance rewrites / ``table_changes`` resolve it
with zero Spark jobs, all through ``writer._read_state``.

The load-bearing claim is BYTE-EQUALITY with the footer-probed schema the
stamp replaces: a reader plan must not change depending on which source
supplied the schema. Schema-on-read formats (csv/json) never stamp —
their read-back types come from inference, not the written frame
(pinned separately in test_changes.py).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.sinks.changes import table_changes
from embulk_executor_mapreduce_spark.sinks.writer import (
    _load_manifest,
    _manifest_path,
    _pointer_version,
    merge_state_schema,
    read_merge_state,
    write_sink,
)
from embulk_executor_mapreduce_spark.spec import SinkSpec


def _batch(spark, lo, hi, gen):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(gen).alias("ver"),
        (F.col("id") * 2 + gen).alias("amount"),
        F.array(F.col("id").cast("double"), F.lit(float(gen))).alias("vec"),
        F.to_timestamp(F.lit("2026-01-0%d 00:00:00" % (gen + 1))).alias("seen"),
    )


def _spec(path, **kw):
    return SinkSpec(
        type="parquet",
        path=path,
        mode="merge",
        merge_key=("k",),
        merge_order=("ver",),
        merge_buckets=8,
        **kw,
    )


@pytest.fixture
def state(spark, tmp_path):
    path = str(tmp_path / "state")
    write_sink(_batch(spark, 0, 200, 1), _spec(path))
    write_sink(_batch(spark, 100, 300, 2), _spec(path))
    return path


def test_stamp_equals_footer_probed_schema(spark, state):
    """The stamped schema is byte-equal to what a footer probe of a bucket
    dir reports — nullability relaxation included — so swapping the schema
    source cannot change any reader plan."""
    man = _load_manifest(state, _pointer_version(state))
    assert "schema" in man
    from pyspark.sql.types import StructType

    stamped = StructType.fromJson(man["schema"])
    one = os.path.join(state, next(iter(man["buckets"].values())))
    probed = spark.read.parquet(one).schema
    assert stamped == probed
    assert merge_state_schema(spark, state) == probed


def _jobs(spark, group, fn):
    """(Spark jobs ``fn()`` ran, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(list(sc.statusTracker().getJobIdsForGroup(group))), out


def test_schema_resolution_runs_zero_jobs(spark, state):
    """merge_state_schema on a stamped manifest is pure driver-side JSON —
    no listing, no footer read, no Spark job."""
    n, _ = _jobs(spark, "stamp-probe", lambda: merge_state_schema(spark, state))
    assert n == 0


def test_table_changes_plan_runs_zero_jobs(spark, state):
    """Each side of a parquet diff reads under its own manifest's stamp, so
    building the feed's plan — net and per-version — runs no Spark job
    (footer inference cost one job per side before)."""
    v = _pointer_version(state)
    n, diff = _jobs(
        spark, "tc-plan", lambda: table_changes(spark, state, ["k"], v - 1, v)
    )
    assert n == 0
    n, per = _jobs(
        spark,
        "tc-plan-pv",
        lambda: table_changes(
            spark, state, ["k"], v - 1, v, per_version=True, use_changelog=False
        ),
    )
    assert n == 0
    # 100 keys re-merged at a higher ver: all show up as updates
    assert diff.filter("_change_type = 'update_postimage'").count() == 100
    assert per.count() == diff.count()


def test_merge_and_purge_run_no_more_jobs(spark, tmp_path):
    """A pruned merge commit and a purge_tombstones run launch no more Spark
    jobs than before the commit loop was shared (6 each on this state:
    persisted-batch probe + AQE stages + write, resp. victim probe +
    victim count + AQE stages + write)."""
    from embulk_executor_mapreduce_spark.sinks.writer import purge_tombstones

    path = str(tmp_path / "jobs")
    spec = _spec(path, delete_column="gone")
    write_sink(_batch(spark, 0, 400, 1).withColumn("gone", F.lit(False)), spec)
    write_sink(_batch(spark, 0, 10, 2).withColumn("gone", F.lit(False)), spec)
    n, _ = _jobs(
        spark,
        "merge-jobs",
        lambda: write_sink(
            _batch(spark, 50, 60, 3).withColumn("gone", F.lit(True)), spec
        ),
    )
    assert n <= 6, n
    n, removed = _jobs(spark, "purge-jobs", lambda: purge_tombstones(spark, spec))
    assert removed == 10
    assert n <= 6, n


def test_table_changes_across_column_introducing_commit_raises(spark, state):
    """Each side keeps its own manifest's columns, so a diff across the
    commit that introduced a column fails the schema check — net and
    per-version alike — instead of null-padding the old side."""
    evolved = _batch(spark, 0, 10, 4).withColumn("note", F.lit("x"))
    write_sink(evolved, _spec(state))
    v = _pointer_version(state)
    with pytest.raises(ValueError, match="schemas differ"):
        table_changes(spark, state, ["k"], v - 1, v)
    with pytest.raises(ValueError, match="schemas differ"):
        table_changes(
            spark, state, ["k"], v - 1, v, per_version=True, use_changelog=False
        )


def test_prestamp_manifest_falls_back_and_regains_stamp(spark, state):
    """A manifest committed before stamping (simulated by stripping the
    key) still works everywhere via the footer fallback, and the next
    commit stamps it."""
    v = _pointer_version(state)
    mp = _manifest_path(state, v)
    man = json.load(open(mp))
    del man["schema"]
    with open(mp, "w") as f:
        json.dump(man, f)

    probed = merge_state_schema(spark, state)  # footer fallback
    rows_before = read_merge_state(spark, state).count()
    assert rows_before == 300
    # the diff into the stripped version infers that side's schema: keys
    # 100..199 were re-merged at ver 2, keys 200..299 are new
    feed = table_changes(spark, state, ["k"], v - 1, v)
    assert feed.schema["amount"] == probed["amount"]
    counts = {
        r._change_type: r["count"]
        for r in feed.groupBy("_change_type").count().collect()
    }
    assert counts == {
        "update_preimage": 100, "update_postimage": 100, "insert": 100
    }

    write_sink(_batch(spark, 0, 50, 3), _spec(state))  # commit w/ fallback
    man2 = _load_manifest(state, _pointer_version(state))
    assert "schema" in man2
    from pyspark.sql.types import StructType

    assert StructType.fromJson(man2["schema"]) == probed
    got = read_merge_state(spark, state)
    assert got.schema == probed
    assert got.count() == 300
    assert got.filter("k = 10").select("ver").head()[0] == 3


def test_evolution_restamps_fused_schema(spark, state):
    """A column-introducing batch forces the full rewrite as before, and
    the stamp follows the fused schema."""
    evolved = _batch(spark, 0, 10, 4).withColumn("note", F.lit("x"))
    write_sink(evolved, _spec(state))
    st = merge_state_schema(spark, state)
    assert "note" in st.fieldNames()
    man = _load_manifest(state, _pointer_version(state))
    one = os.path.join(state, next(iter(man["buckets"].values())))
    assert spark.read.parquet(one).schema == st
    live = read_merge_state(spark, state)
    assert live.filter("k = 5").select("note").head()[0] == "x"
    assert live.filter("k = 150").select("note").head()[0] is None


def test_maintenance_rewrite_stamps(spark, tmp_path):
    """purge_tombstones' _rewrite_without commit carries the stamp too."""
    from embulk_executor_mapreduce_spark.sinks.writer import purge_tombstones

    path = str(tmp_path / "tomb")
    spec = _spec(path, delete_column="gone")
    b1 = _batch(spark, 0, 100, 1).withColumn("gone", F.lit(False))
    write_sink(b1, spec)
    b2 = _batch(spark, 0, 20, 2).withColumn("gone", F.lit(True))
    write_sink(b2, spec)
    man_before = _load_manifest(path, _pointer_version(path))
    removed = purge_tombstones(spark, spec)
    assert removed == 20
    man_after = _load_manifest(path, _pointer_version(path))
    assert man_after["schema"] == man_before["schema"]
    assert read_merge_state(spark, path, delete_col="gone").count() == 80
