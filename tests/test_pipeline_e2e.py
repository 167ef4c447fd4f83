"""End-to-end pipeline goldens — mirrors the reference's e2e contract
(TestMapReduceExecutor.java:311-331): output multiset == input multiset,
order/file-assignment-insensitive; plus invalid-record policy behavior."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from embulk_executor_mapreduce_spark.catalog import events_ts_normalize_filters
from embulk_executor_mapreduce_spark.errors import (
    ConfigError,
    RemoteTaskFailedDataError,
)
from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline
from embulk_executor_mapreduce_spark.spec import load_spec

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _multiset(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_text_source_line_and_wholetext(spark, tmp_path):
    """Raw text-line source: one row per line with a filter chain over the
    line column (the C4-pipeline front door); wholetext mode yields one row
    per FILE tagged with its path."""
    src = tmp_path / "corpus"
    src.mkdir()
    (src / "a.txt").write_text("keep one\ndrop\nkeep two\n")
    (src / "b.txt").write_text("keep three\n")
    out = str(tmp_path / "out")
    rep = run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "text", "path": str(src)},
                "filters": [{"type": "filter", "predicate": "line LIKE 'keep%'"}],
                "out": {"type": "parquet", "path": out},
            }
        ),
    )
    assert rep.succeeded and rep.output_rows == 3
    assert sorted(r.line for r in spark.read.parquet(out).collect()) == [
        "keep one", "keep three", "keep two",
    ]
    whole = run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "text", "path": str(src), "wholetext": True},
                "out": {"type": "parquet", "path": str(tmp_path / "out2")},
            }
        ),
    )
    assert whole.succeeded and whole.output_rows == 2
    rows = spark.read.parquet(str(tmp_path / "out2")).collect()
    assert {Path(r.path).name for r in rows} == {"a.txt", "b.txt"}
    assert any("drop" in r.line for r in rows)


def test_identity_map_only(spark, tmp_path):
    """Map-only shape (SURVEY §3.2): scan → identity → sink, no exchange."""
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": EVENTS},
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 1000
    src = spark.read.parquet(EVENTS)
    dst = spark.read.parquet(out)
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    assert _multiset(src, cols) == _multiset(dst, cols)


def test_partitioned_multiset_and_bucket_layout(spark, tmp_path):
    """Partitioned shape (SURVEY §3.1): records preserved as a multiset AND
    laid out by time bucket."""
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": EVENTS},
            "filters": [
                *events_ts_normalize_filters(EVENTS),
            ],
            "out": {"type": "parquet", "path": out, "partition_by_bucket": True},
            "exec": {
                "reducers": 4,
                "partitioning": {"column": "ts", "unit": "day"},
            },
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.partitioned
    bucket_dirs = [p.name for p in Path(out).glob("__bucket=*")]
    assert len(bucket_dirs) >= 28  # ~30 days of events
    dst = spark.read.parquet(out)
    assert dst.count() == 1000
    src = spark.read.parquet(EVENTS)
    cols = ["event_id", "user_id", "event_type"]
    assert _multiset(src, cols) == _multiset(dst, cols)


def test_salted_partitioning_multiset(spark, tmp_path):
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": EVENTS},
            "filters": [
                *events_ts_normalize_filters(EVENTS),
            ],
            "out": {"type": "parquet", "path": out},
            "exec": {
                "reducers": 8,
                "partitioning": {
                    "column": "ts",
                    "unit": "hour",
                    "map_side_partition_split": 4,
                },
            },
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded
    assert spark.read.parquet(out).count() == 1000


@pytest.fixture()
def bad_csv(tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("1,alpha\n2,beta\nnot_a_number,gamma\n4,delta\n")
    return str(tmp_path)


CSV_COLS = [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}]


def test_stop_on_invalid_record_true(spark, bad_csv):
    """User-data failure classification (O13/O14; reference
    TestMapReduceExecutor.java:177-192)."""
    spec = load_spec(
        {
            "in": {
                "type": "csv",
                "path": bad_csv,
                "columns": CSV_COLS,
                "stop_on_invalid_record": True,
            },
            "out": {"type": "null"},
        }
    )
    with pytest.raises(RemoteTaskFailedDataError):
        run_pipeline(spark, spec)


def test_stop_on_invalid_record_false_skips(spark, bad_csv, tmp_path):
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {
                "type": "csv",
                "path": bad_csv,
                "columns": CSV_COLS,
                "stop_on_invalid_record": False,
            },
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 3  # bad row skipped
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 4]


def test_xml_engine_roundtrip_all_types(spark, tmp_path):
    """Engine xml sink → engine xml source roundtrip (Spark 4 native XML
    datasource — 'sources/sinks beyond CSV', SURVEY §2.4). Type gauntlet +
    adversarial strings: XML metacharacters entity-escape, embedded newlines
    survive, surrounding whitespace is preserved (ignoreSurroundingSpaces
    pinned off — the reader default trims, same corruption class as the csv
    writer's Univocity trim flags), empty string stays distinct from NULL
    (absent element), and timestamps carry microseconds via the paired
    timestampFormat defaults."""
    import datetime

    seed = str(tmp_path / "seed")
    rows = [
        (1, True, 2.718, "plain", datetime.datetime(2024, 1, 15, 10, 0, 0, 123456), '{"k":1}'),
        (2, False, -0.5, "", None, None),
        (3, None, None, None, None, None),
        (4, True, 1e18, 'a<b&c>d"e\'f', None, None),
        (5, None, None, "line1\nline2", None, None),
        (6, None, None, "  spaces  ", None, None),
        (7, None, None, "日本語🎉", None, None),
    ]
    spark.createDataFrame(
        rows, "l long, b boolean, d double, s string, t timestamp, j string"
    ).coalesce(1).write.parquet(seed)

    xml_out = str(tmp_path / "xml")
    rep = run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": seed},
                "out": {"type": "xml", "path": xml_out},
            }
        ),
    )
    assert rep.succeeded and rep.output_rows == 7

    cols = [
        {"name": "l", "type": "long"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "t", "type": "timestamp"},
        {"name": "j", "type": "json"},
    ]
    back_out = str(tmp_path / "back")
    rep2 = run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "xml", "path": xml_out, "columns": cols},
                "out": {"type": "parquet", "path": back_out},
            }
        ),
    )
    assert rep2.succeeded and rep2.output_rows == 7

    got = {r.l: r for r in spark.read.parquet(back_out).collect()}
    assert got[1].b is True and abs(got[1].d - 2.718) < 1e-12
    assert got[1].s == "plain" and got[1].t.microsecond == 123456
    assert got[1].j == '{"k":1}'
    assert got[2].s == ""  # empty element ≠ absent element
    assert got[3].s is None and got[3].b is None
    assert got[4].s == 'a<b&c>d"e\'f' and got[4].d == 1e18
    assert got[5].s == "line1\nline2"
    assert got[6].s == "  spaces  "
    assert got[7].s == "日本語🎉"


def test_csv_roundtrip_all_types(spark, tmp_path):
    """Type-gauntlet round trip (reference e2e fixture exercises all six
    types, embulk_mapred_config.yml:25-37)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text(
        "true,42,2.718,hello,2024-01-15 10:00:00.123456,\"{\"\"k\"\":1}\"\n"
        ",,,,,\n"  # all-null row
    )
    cols = [
        {"name": "b", "type": "boolean"},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "t", "type": "timestamp"},
        {"name": "j", "type": "json"},
    ]
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {"type": "csv", "path": str(src), "columns": cols},
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 2
    rows = {r.l: r for r in spark.read.parquet(out).collect()}
    full = rows[42]
    assert full.b is True and abs(full.d - 2.718) < 1e-12 and full.s == "hello"
    assert full.t.microsecond == 123456
    assert full.j == '{"k":1}'
    empty = rows[None]
    assert all(empty[c["name"]] is None for c in cols)


def test_invalid_record_quarantine(spark, bad_csv, tmp_path):
    """Extension over the reference's log-and-skip: structurally-invalid CSV
    rows land in an auditable JSON quarantine table (raw line + source file),
    the clean rows flow through the normal pipeline, and the report carries
    the quarantine count."""
    out = str(tmp_path / "out")
    qdir = str(tmp_path / "quarantine")
    spec = load_spec(
        {
            "in": {
                "type": "csv",
                "path": bad_csv,
                "columns": CSV_COLS,
                "invalid_record_path": qdir,
            },
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 3
    assert rep.quarantined_rows == 1
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2, 4]
    q = spark.read.json(qdir).collect()
    assert len(q) == 1
    assert q[0].raw_record == "not_a_number,gamma"
    assert q[0].input_file.endswith("bad.csv")


def test_invalid_record_path_conflicts_with_failfast(tmp_path):
    with pytest.raises(ConfigError):
        load_spec(
            {
                "in": {
                    "type": "csv",
                    "path": str(tmp_path),
                    "columns": CSV_COLS,
                    "stop_on_invalid_record": True,
                    "invalid_record_path": str(tmp_path / "q"),
                },
                "out": {"type": "null"},
            }
        ).validate()


def test_parquet_schema_drift_merge(spark, tmp_path):
    """Schema evolution across input files: a later file adds a column.
    options.mergeSchema flows through the spec to the parquet reader, so the
    pipeline sees the union schema (old files null-fill the new column) —
    the standard long-lived-dataset drift story."""
    src = tmp_path / "src"
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(src / "p1")
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(str(src / "p2"))
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {
                "type": "parquet",
                "path": f"{src}/p*",
                "options": {"mergeSchema": "true", "recursiveFileLookup": "true"},
            },
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 2
    rows = {r.id: r for r in spark.read.parquet(out).collect()}
    assert set(rows[1].asDict()) == {"id", "name", "score"}
    assert rows[1].score is None and rows[2].score == 9.5


def test_sort_by_clusters_rows_within_files(spark, tmp_path):
    """sink sort_by on a file sink sorts WITHIN write partitions (no extra
    exchange) so each parquet file's row groups carry selective min/max
    stats — the data-skipping layout for 100 TB scans."""
    out = str(tmp_path / "out")
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": EVENTS},
            "out": {"type": "parquet", "path": out, "sort_by": ["user_id"]},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 1000
    files = [p for p in Path(out).glob("part-*") if not p.name.endswith(".crc")]
    assert files
    for f in files:
        vals = [r.user_id for r in spark.read.parquet(str(f)).collect()]
        assert vals == sorted(vals)
    # multiset unchanged
    src = spark.read.parquet(EVENTS)
    dst = spark.read.parquet(out)
    cols = ["event_id", "user_id", "event_type"]
    assert _multiset(src, cols) == _multiset(dst, cols)


def test_dynamic_partition_overwrite_reload_one_bucket(spark, tmp_path):
    """Idempotent re-load: with partition_overwrite: dynamic, overwriting
    with a batch containing ONE time bucket rewrites only that bucket's
    directory; every other bucket survives. Static overwrite (the default)
    truncates the whole dataset — both semantics asserted."""
    out = str(tmp_path / "out")

    def spec_for(path, predicate=None, overwrite="dynamic"):
        filters = [
            *events_ts_normalize_filters(EVENTS),
        ]
        if predicate:
            filters.append({"type": "filter", "predicate": predicate})
        return load_spec(
            {
                "in": {"type": "parquet", "path": EVENTS},
                "filters": filters,
                "out": {
                    "type": "parquet",
                    "path": path,
                    "partition_by_bucket": True,
                    "partition_overwrite": overwrite,
                },
                "exec": {"reducers": 4, "partitioning": {"column": "ts", "unit": "day"}},
            }
        )

    run_pipeline(spark, spec_for(out))
    n_buckets = len(list(Path(out).glob("__bucket=*")))
    total = spark.read.parquet(out).count()
    assert n_buckets >= 28 and total == 1000

    # re-load ONLY day one; dynamic overwrite must leave the other buckets
    run_pipeline(spark, spec_for(out, predicate="date(ts) = date'2024-01-01'"))
    assert len(list(Path(out).glob("__bucket=*"))) == n_buckets
    assert spark.read.parquet(out).count() == total

    # static overwrite of the same one-day batch truncates everything else
    run_pipeline(
        spark, spec_for(out, predicate="date(ts) = date'2024-01-01'", overwrite="static")
    )
    assert len(list(Path(out).glob("__bucket=*"))) == 1


def test_merge_sink_scd1_upsert(spark, tmp_path):
    """mode: merge — SCD1 upsert: latest version per merge_key wins by
    merge_order, the incoming batch beats stored state on order ties
    (idempotent re-load), stale versions never regress the state."""
    out = str(tmp_path / "state")

    def load_batch(rows):
        src = str(tmp_path / "batch")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(1) \
            .write.mode("overwrite").parquet(src)
        spec = load_spec(
            {
                "in": {"type": "parquet", "path": src},
                "out": {
                    "type": "parquet",
                    "path": out,
                    "mode": "merge",
                    "merge_key": ["id"],
                    "merge_order": ["ver"],
                },
            }
        )
        run_pipeline(spark, spec)
        from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

        return {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}

    assert load_batch([(1, "a", 10), (2, "b", 10)]) == {1: ("a", 10), 2: ("b", 10)}
    # newer version updates, new key inserts, untouched key survives
    state = load_batch([(1, "a2", 20), (3, "c", 10)])
    assert state == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 10)}
    # stale version must NOT regress
    assert load_batch([(1, "ancient", 5)]) == state
    # same-order re-load is idempotent and the batch wins the tie
    assert load_batch([(1, "a2", 20), (3, "c", 10)]) == state


def _merge_spec(src: str, out: str, **extra):
    return load_spec(
        {
            "in": {"type": "parquet", "path": src},
            "out": {
                "type": "parquet",
                "path": out,
                "mode": "merge",
                "merge_key": ["id"],
                "merge_order": ["ver"],
                **extra,
            },
        }
    )


def _manifest_buckets(out: str) -> dict[str, str]:
    """bucket id → referenced data dir (relpath) from the CURRENT manifest."""
    import json
    from pathlib import Path

    version = json.loads((Path(out) / "_CURRENT").read_text())["version"]
    man = json.loads((Path(out) / "_manifests" / f"v{version}.json").read_text())
    return man["buckets"]


def _bucket_file_bytes(out: str, rel: str) -> dict[str, bytes]:
    from pathlib import Path

    d = Path(out) / rel
    return {
        p.name: p.read_bytes() for p in d.rglob("part-*") if not p.name.endswith(".crc")
    }


def test_merge_sink_bucket_pruned_rewrite(spark, tmp_path):
    """The 100 TB merge contract: a batch rewrites ONLY the state buckets its
    keys hash into — every other bucket's manifest entry still points at the
    SAME directory with byte-identical files (not re-encoded, not renamed,
    not touched). The round-2 sink rewrote the FULL state per batch; the
    round-3 sink swapped directories in place (a visibility window); the
    pointer commit leaves untouched data physically immobile."""
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=16))

    # seed: many keys → several distinct __mb buckets
    write_batch([(i, f"n{i}", 1) for i in range(40)], 0)
    before = _manifest_buckets(out)
    assert len(before) > 4  # keys actually spread over buckets
    bytes_before = {b: _bucket_file_bytes(out, rel) for b, rel in before.items()}
    # single-key batch: at most ONE bucket's manifest entry may move
    write_batch([(7, "updated", 9)], 1)
    after = _manifest_buckets(out)
    moved = {b for b in before if before[b] != after.get(b)}
    assert len(moved) == 1, f"pruned merge touched {moved}"
    for b, rel in before.items():
        if b in moved:
            continue
        assert _bucket_file_bytes(out, rel) == bytes_before[b], (
            f"untouched bucket {b} rewritten in place"
        )
    # and the merge itself is correct through the pointer read path
    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert state[7] == ("updated", 9)
    assert state[3] == ("n3", 1) and len(state) == 40


def test_merge_sink_pointer_commit_layout_and_retention(spark, tmp_path):
    """Pointer-commit invariants: _CURRENT resolves to a manifest covering
    every bucket; a naive recursive read of the state root sees NO data
    files (underscore dirs — fail-empty, never fail-duplicate); the
    PREVIOUS version's referenced dirs survive one more commit (snapshot
    retention for in-flight readers) and version N-2 leftovers are GC'd."""
    import os

    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=16))

    write_batch([(i, f"n{i}", 1) for i in range(40)], 0)  # v0
    v0_dirs = set(_manifest_buckets(out).values())
    write_batch([(7, "u7", 9)], 1)  # v1 — replaces bucket(7)'s entry
    # retention: every dir v0 referenced still exists (a reader that
    # resolved v0 before the v1 commit can finish its scan)
    for rel in v0_dirs:
        assert os.path.isdir(os.path.join(out, rel)), f"v0 dir GC'd too early: {rel}"
    replaced_v0 = v0_dirs - set(_manifest_buckets(out).values())
    assert len(replaced_v0) == 1
    write_batch([(8, "u8", 9)], 2)  # v2 — v0's replaced dir now unreachable
    assert not any(
        os.path.isdir(os.path.join(out, rel)) for rel in replaced_v0
    ), "v0's replaced dir must be GC'd after two commits"
    # naive read of the root sees no data at all (all dirs underscore-hidden)
    try:
        naive = spark.read.parquet(out).count()
    except Exception:
        naive = 0  # schema-inference failure on an empty listing is fine
    assert naive == 0
    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert state[7] == ("u7", 9) and state[8] == ("u8", 9) and len(state) == 40


def test_merge_sink_concurrent_reader_sees_old_or_new_never_mix(spark, tmp_path):
    """VERDICT r3 item 4's done-criterion: a reader that resolved the state
    BEFORE a merge commit reads exactly the old snapshot (its file list is
    pinned to the old manifest, whose dirs the one-commit retention window
    keeps alive); a reader resolving AFTER reads exactly the new state. No
    interleaving can observe a half-swapped mix — the commit is one pointer
    rename."""
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=16))

    write_batch([(i, f"n{i}", 1) for i in range(40)], 0)
    # reader resolves the pointer (and lists its files) pre-commit...
    mid_scan = read_merge_state(spark, out)
    # ...a merge commits underneath it...
    write_batch([(7, "updated", 9), (100, "new", 1)], 1)
    # ...the in-flight reader still sees EXACTLY the old snapshot
    old_view = {r.id: (r.name, r.ver) for r in mid_scan.collect()}
    assert old_view == {i: (f"n{i}", 1) for i in range(40)}
    # a fresh resolve sees exactly the new state
    new_view = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert len(new_view) == 41
    assert new_view[7] == ("updated", 9) and new_view[100] == ("new", 1)
    assert new_view[3] == ("n3", 1)


def test_merge_into_pointerless_dir_with_data_is_refused(spark, tmp_path):
    """A directory that holds files but no _CURRENT pointer is not a merge
    state: a first commit would write v0 beside those files and hide
    them. Both a hand-made bucketed (``__mb=*``) layout and a flat parquet
    dir make the merge raise ConfigError, and every file stays
    byte-identical."""
    import hashlib

    from pyspark.sql import functions as F

    def snapshot(root):
        return {
            str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(root).rglob("*"))
            if p.is_file()
        }

    seed = spark.createDataFrame(
        [(i, f"n{i}", 1) for i in range(40)], "id long, name string, ver long"
    )
    bucketed = str(tmp_path / "bucketed")
    seed.withColumn(
        "__mb", F.pmod(F.xxhash64("id"), F.lit(16)).cast("int")
    ).write.partitionBy("__mb").parquet(bucketed)
    flat = str(tmp_path / "flat")
    seed.write.parquet(flat)
    src = str(tmp_path / "b1")
    spark.createDataFrame(
        [(100, "new", 1)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    for out in (bucketed, flat):
        before = snapshot(out)
        with pytest.raises(ConfigError, match="not a merge state"):
            run_pipeline(spark, _merge_spec(src, out, merge_buckets=16))
        assert snapshot(out) == before


def test_merge_sink_config_validation(spark, tmp_path):
    with pytest.raises(ConfigError, match="merge_key"):
        load_spec(
            {
                "in": {"type": "parquet", "path": EVENTS},
                "out": {"type": "parquet", "path": str(tmp_path / "x"), "mode": "merge"},
            }
        ).validate()


def test_merge_sink_randomized_replay(spark, tmp_path):
    """Randomized (fixed-seed) merge replay: N batches of upserts through the
    merge sink must equal a reference dict replay with last-writer-wins on
    (ver, arrival) — order ties inside one batch resolved deterministically
    by the sink's full-row comparator."""
    import random

    rng = random.Random(0xE17)
    out = str(tmp_path / "state")
    expect: dict[int, tuple[int, str]] = {}
    for b in range(5):
        rows = []
        for _ in range(rng.randint(3, 8)):
            k = rng.randint(1, 12)
            ver = rng.randint(1, 9)
            name = f"v{b}_{rng.randint(0, 999)}"
            rows.append((k, name, ver))
        # reference replay: within a batch the sink keeps max(ver, name);
        # across batches a strictly-greater ver always wins, an equal ver
        # goes to the incoming batch only if its (ver, name) compares higher
        # (gen beats name only for the stored side — mirror the comparator:
        # (ver, gen, name) with stored gen=0, incoming gen=1)
        batch_best: dict[int, tuple[int, str]] = {}
        for k, name, ver in rows:
            if k not in batch_best or (ver, name) > batch_best[k]:
                batch_best[k] = (ver, name)
        for k, (ver, name) in batch_best.items():
            if k not in expect or (ver, 1, name) > (expect[k][0], 0, expect[k][1]):
                expect[k] = (ver, name)

        src = str(tmp_path / f"batch{b}")
        spark.createDataFrame(
            rows, "id long, name string, ver long"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        run_pipeline(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": src},
                    "out": {
                        "type": "parquet",
                        "path": out,
                        "mode": "merge",
                        "merge_key": ["id"],
                        "merge_order": ["ver"],
                    },
                }
            ),
        )
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    got = {r.id: (r.ver, r.name) for r in read_merge_state(spark, out).collect()}
    assert got == expect


def test_merge_sink_schema_drift_new_column(spark, tmp_path):
    """A later batch may carry a NEW column: merge unions by name, old rows
    surface the new column as null, and versioning still applies."""
    out = str(tmp_path / "state")

    def merge(src_rows, ddl, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(src_rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        run_pipeline(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": src},
                    "out": {
                        "type": "parquet",
                        "path": out,
                        "mode": "merge",
                        "merge_key": ["id"],
                        "merge_order": ["ver"],
                    },
                }
            ),
        )

    merge([(1, "a", 10), (2, "b", 10)], "id long, name string, ver long", 0)
    merge([(1, "a2", 20, "extra")], "id long, name string, ver long, note string", 1)
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    rows = {r.id: r for r in read_merge_state(spark, out).collect()}
    assert rows[1].name == "a2" and rows[1].note == "extra"
    assert rows[2].name == "b" and rows[2].note is None


def test_sink_compression_codec_passthrough(spark, tmp_path):
    """Sink options flow to the writer: compression: zstd produces parquet
    files whose column chunks are actually ZSTD-compressed (footer-verified),
    halving scan IO at 100 TB for text-heavy columns."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": EVENTS},
                "out": {"type": "parquet", "path": out, "compression": "zstd"},
            }
        ),
    )
    part = next(Path(out).glob("part-*.parquet"))
    meta = pq.ParquetFile(str(part)).metadata
    codecs = {
        meta.row_group(rg).column(c).compression
        for rg in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}, codecs


def test_commit_manifest_written(spark, tmp_path):
    """Successful file-sink commits leave a _manifest.json audit record
    (rows, schema, task count) — the in-band replacement for the reference's
    HDFS attempt-state reports; Spark readers ignore the underscore file."""
    import json

    out = str(tmp_path / "out")
    rep = run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": EVENTS},
                "filters": [{"type": "filter", "predicate": "value > 0"}],
                "out": {"type": "parquet", "path": out},
            }
        ),
    )
    m = json.loads((Path(out) / "_manifest.json").read_text())
    assert m["rows"] == rep.output_rows == 1000
    assert m["output_tasks"] == rep.output_tasks >= 1
    assert {c["name"] for c in m["columns"]} >= {"event_id", "user_id", "value"}
    assert m["sink_mode"] == "overwrite" and m["quarantined_rows"] == 0
    # the manifest must not pollute read-back
    assert spark.read.parquet(out).count() == 1000


def test_invalid_record_quarantine_jsonl(spark, tmp_path):
    """JSONL twin of test_invalid_record_quarantine: same quarantine table
    layout (input_file, raw_record, partial_parse), clean rows flow on,
    report carries the count."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": 1, "name": "alpha"}\n'
        "{broken json\n"
        '{"id": 3, "name": "gamma"}\n'
    )
    out = str(tmp_path / "out")
    qdir = str(tmp_path / "quarantine")
    spec = load_spec(
        {
            "in": {
                "type": "json",
                "path": str(src),
                "columns": [
                    {"name": "id", "type": "long"},
                    {"name": "name", "type": "string"},
                ],
                "invalid_record_path": qdir,
            },
            "out": {"type": "parquet", "path": out},
        }
    )
    rep = run_pipeline(spark, spec)
    assert rep.succeeded and rep.output_rows == 2
    assert rep.quarantined_rows == 1
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 3]
    q = spark.read.json(qdir).collect()
    assert len(q) == 1
    assert q[0].raw_record == "{broken json"
    assert q[0].input_file.endswith("a.jsonl")


def _mk_corpus(spark, corpus, n_batches=4, rows_per=3):
    """Seed a corpus with n_batches tiny ingest_batch dirs (the shape the
    streaming dedup loop produces)."""
    from embulk_executor_mapreduce_spark.streaming.ingest import (
        incremental_dedup_sink,
    )

    sink = incremental_dedup_sink(
        f"{corpus}__state", corpus, merge_buckets=4
    )
    for b in range(n_batches):
        rows = [
            (b * 100 + i, f"doc-{b}-{i}") for i in range(rows_per)
        ]
        sink(spark.createDataFrame(rows, "doc_id long, text string"), b)


def test_compaction_folds_batch_dirs_preserving_content(spark, tmp_path):
    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        read_corpus,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=4)
    before = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus).collect()
    )
    assert len(before) == 12

    # default scope: everything but the newest batch (a writer may be
    # retrying it); one output file at the default target size
    gen = compact_corpus(spark, corpus)
    assert gen == 0
    names = sorted(p.name for p in (tmp_path / "corpus").iterdir())
    assert "compacted=0" in names and "ingest_batch=3" in names
    assert not any(n.startswith("ingest_batch=") and n != "ingest_batch=3" for n in names)
    parts = [
        p
        for p in (tmp_path / "corpus" / "compacted=0").iterdir()
        if p.name.endswith(".parquet")
    ]
    assert len(parts) == 1  # 12 tiny rows ≪ target_file_bytes

    # content identical, provenance column intact across the fold
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus).collect()
        )
        == before
    )

    # second generation absorbs the remaining batch once it's old enough
    assert compact_corpus(spark, corpus, through=3) == 1
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus).collect()
        )
        == before
    )
    # nothing live left → compacting again is a no-op
    assert compact_corpus(spark, corpus, through=99) is None


def test_corpus_snapshot_reads_stable_across_compaction(spark, tmp_path):
    """Reproducible-training contract: a snapshot pinned by
    read_corpus(as_of_batch=N) returns the SAME multiset after further
    ingestion AND after compaction rewrites the physical layout —
    ingest_batch provenance survives the fold, and the corpus is
    append-only."""
    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        corpus_snapshot_id,
        read_corpus,
    )
    from embulk_executor_mapreduce_spark.streaming.ingest import (
        incremental_dedup_sink,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=4)
    assert corpus_snapshot_id(corpus) == 3

    snap = 2  # a training run records this id at kickoff
    want = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus, as_of_batch=snap).collect()
    )
    assert len(want) == 9 and {b for _, _, b in want} == {0, 1, 2}

    # corpus moves on: another batch lands, then compaction folds 0..3
    sink = incremental_dedup_sink(f"{corpus}__state", corpus, merge_buckets=4)
    sink(
        spark.createDataFrame(
            [(400 + i, f"doc-4-{i}") for i in range(3)], "doc_id long, text string"
        ),
        4,
    )
    assert compact_corpus(spark, corpus, through=3) == 0
    assert corpus_snapshot_id(corpus) == 4

    got = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus, as_of_batch=snap).collect()
    )
    assert got == want  # byte-identical snapshot through the rewrite

    # the unpinned view sees everything
    assert read_corpus(spark, corpus).count() == 15


def test_compaction_crash_between_commit_and_cleanup(spark, tmp_path):
    """Crash window: generation committed but consumed dirs not yet deleted.
    Readers through read_corpus never see duplicates; the next entry
    finishes the cleanup."""
    import shutil

    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        read_corpus,
        recover_compaction,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=3)
    before = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus).collect()
    )
    # simulate the crash: run a real compaction, then resurrect a consumed
    # dir from a copy taken beforehand
    saved = tmp_path / "saved_batch0"
    shutil.copytree(f"{corpus}/ingest_batch=0", saved)
    assert compact_corpus(spark, corpus, through=1) == 0
    shutil.copytree(saved, f"{corpus}/ingest_batch=0")

    # raw double-read would now see batch 0 twice; read_corpus does not
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus).collect()
        )
        == before
    )
    assert not (tmp_path / "corpus" / "ingest_batch=0").exists()

    # recovery is also idempotent when there is nothing to do
    assert recover_compaction(corpus) == []


def test_compaction_pre_commit_crash_leaves_corpus_untouched(spark, tmp_path):
    from embulk_executor_mapreduce_spark.sinks.compact import (
        read_corpus,
        recover_compaction,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=2)
    # staging litter from a crash before the rename commit point
    staging = tmp_path / "corpus" / ".__compact_staging__"
    staging.mkdir()
    (staging / "part-junk.parquet").write_bytes(b"junk")
    assert recover_compaction(corpus) == []
    assert not staging.exists()
    assert read_corpus(spark, corpus).count() == 6


def test_compaction_of_streaming_dedup_corpus(spark, tmp_path):
    """The two halves of the crawl loop compose: corpus dirs written by the
    exactly-once dedup sink fold into a generation with identical content,
    and the fingerprint state keeps deduping new batches afterwards."""
    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        read_corpus,
    )
    from embulk_executor_mapreduce_spark.streaming.ingest import (
        incremental_dedup_sink,
    )

    state = str(tmp_path / "fp_state")
    corpus = str(tmp_path / "corpus")
    sink = incremental_dedup_sink(state, corpus, merge_buckets=8)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    sink(mk([(10, "aaa"), (11, "aaa"), (12, "bbb")]), 0)
    sink(mk([(20, "bbb"), (21, "ccc")]), 1)
    sink(mk([(30, "ddd")]), 2)

    before = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus).collect()
    )
    assert [d for d, _, _ in before] == [10, 12, 21, 30]

    assert compact_corpus(spark, corpus, through=1) == 0
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus).collect()
        )
        == before
    )
    # the loop keeps working against the same state after compaction
    sink(mk([(40, "ccc"), (41, "eee")]), 3)
    assert sorted(
        r.doc_id for r in read_corpus(spark, corpus).collect()
    ) == [10, 12, 21, 30, 41]


def test_generation_recompaction_bounds_dirs_and_preserves_snapshot(
    spark, tmp_path
):
    """VERDICT r3 item 3: compacted=* generations fold into one when the
    count exceeds the threshold; a snapshot pinned BEFORE the gen-merge
    reads identically after; directory count stays bounded."""
    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        compact_generations,
        corpus_snapshot_id,
        read_corpus,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=5)
    # one generation per cycle: 4 generations out of batches 0..3
    for b in range(4):
        assert compact_corpus(spark, corpus, through=b) == b
    snap = corpus_snapshot_id(corpus)
    assert snap == 4  # batch 4 still live
    pinned = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus, as_of_batch=snap).collect()
    )
    assert len(pinned) == 15

    # at-or-under threshold: no-op
    assert compact_generations(spark, corpus, max_generations=4) is None
    # over threshold: all 4 fold into compacted=4
    assert compact_generations(spark, corpus, max_generations=3) == 4
    names = sorted(p.name for p in (tmp_path / "corpus").iterdir())
    assert "compacted=4" in names
    assert not any(n.startswith("compacted=") and n != "compacted=4" for n in names)
    # dir count bounded: one generation + one live batch dir
    assert sum(1 for n in names if n.startswith(("compacted=", "ingest_batch="))) == 2

    # snapshot stability across the fold (training-reproducibility contract)
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus, as_of_batch=snap).collect()
        )
        == pinned
    )
    assert corpus_snapshot_id(corpus) == snap

    # compact_corpus(max_generations=...) triggers the fold inline:
    # batch 4 becomes compacted=5, then {4,5} > threshold 1 folds to 6
    assert compact_corpus(spark, corpus, through=4, max_generations=1) == 5
    names = sorted(p.name for p in (tmp_path / "corpus").iterdir())
    assert sum(1 for n in names if n.startswith("compacted=")) == 1
    assert "compacted=6" in names
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus, as_of_batch=snap).collect()
        )
        == pinned
    )


def test_generation_merge_crash_between_commit_and_cleanup(spark, tmp_path):
    """Gen-merge committed but absorbed generation dirs not yet deleted:
    recovery (run on entry by every reader) drops the stale duplicates."""
    import shutil

    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        compact_generations,
        read_corpus,
        recover_compaction,
    )

    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=4)
    for b in range(3):
        assert compact_corpus(spark, corpus, through=b) == b
    before = sorted(
        (r.doc_id, r.text, r.ingest_batch)
        for r in read_corpus(spark, corpus).collect()
    )
    # crash simulation: merge the generations, then resurrect a victim from
    # a copy taken beforehand (= cleanup never ran)
    saved = tmp_path / "saved_gen0"
    shutil.copytree(f"{corpus}/compacted=0", saved)
    assert compact_generations(spark, corpus, max_generations=2) == 3
    shutil.copytree(saved, f"{corpus}/compacted=0")

    # a raw double-read would see gen 0's rows twice; read_corpus heals first
    assert (
        sorted(
            (r.doc_id, r.text, r.ingest_batch)
            for r in read_corpus(spark, corpus).collect()
        )
        == before
    )
    assert not (tmp_path / "corpus" / "compacted=0").exists()
    assert recover_compaction(corpus) == []


def test_merge_sink_time_travel_and_retention(spark, tmp_path):
    """read_merge_state(version=N) reproduces any retained committed
    snapshot exactly (every manifest is a complete immutable bucket map);
    merge_keep_versions controls how many survive GC, expired versions
    raise with the retention hint, and the default retention still drops
    version N-2."""
    import pytest as _pytest

    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub, keep=4):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(
            spark, _merge_spec(src, out, merge_buckets=8, merge_keep_versions=keep)
        )

    write_batch([(1, "a", 10), (2, "b", 10)], 0)          # v0
    write_batch([(1, "a2", 20), (3, "c", 10)], 1)         # v1
    write_batch([(2, "b2", 30)], 2)                       # v2

    def snap(version=None):
        return {
            r.id: (r.name, r.ver)
            for r in read_merge_state(spark, out, version=version).collect()
        }

    assert snap() == {1: ("a2", 20), 2: ("b2", 30), 3: ("c", 10)}
    assert snap(version=2) == snap()
    assert snap(version=1) == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 10)}
    assert snap(version=0) == {1: ("a", 10), 2: ("b", 10)}

    # tighter retention: next commit GCs everything older than current-1
    write_batch([(4, "d", 10)], 3, keep=2)                # v3, keep {3,2}
    assert snap(version=2) == {1: ("a2", 20), 2: ("b2", 30), 3: ("c", 10)}
    with _pytest.raises(FileNotFoundError, match="merge_keep_versions"):
        snap(version=0)
    with _pytest.raises(ConfigError, match="merge_keep_versions"):
        _merge_spec(str(tmp_path / "b0"), out, merge_keep_versions=1)


def test_merge_sink_orc_pointer_commit(spark, tmp_path):
    """The pointer protocol is format-parameterized: an ORC merge state
    commits, prunes, and reads back identically to parquet."""
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": src},
                    "out": {
                        "type": "orc",
                        "path": out,
                        "mode": "merge",
                        "merge_key": ["id"],
                        "merge_order": ["ver"],
                        "merge_buckets": 8,
                    },
                }
            ),
        )

    write_batch([(1, "a", 10), (2, "b", 10)], 0)
    write_batch([(1, "a2", 20), (3, "c", 10)], 1)
    state = {
        r.id: (r.name, r.ver)
        for r in read_merge_state(spark, out, fmt="orc").collect()
    }
    assert state == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 10)}
    import os

    assert os.path.exists(os.path.join(out, "_CURRENT"))


def test_merge_sink_empty_batches(spark, tmp_path):
    """Empty batches must never corrupt or version-churn the state: an
    empty FIRST batch commits an empty (zero-bucket) state that a later
    batch replaces wholesale; an empty batch against EXISTING state is a
    no-op (no new version, same pointer)."""
    import json
    import os

    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    def write_batch(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=8))

    write_batch([], 0)  # empty first batch → empty committed state
    assert json.loads(
        (Path(out) / "_CURRENT").read_text()
    )["version"] == 0
    write_batch([(1, "a", 10), (2, "b", 10)], 1)
    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert state == {1: ("a", 10), 2: ("b", 10)}
    v_before = json.loads((Path(out) / "_CURRENT").read_text())["version"]
    write_batch([], 2)  # empty batch against existing state: pointer unchanged
    assert json.loads((Path(out) / "_CURRENT").read_text())["version"] == v_before
    assert {
        r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()
    } == state
    assert os.path.isdir(out)


def test_merge_sink_randomized_crash_replay(spark, tmp_path, monkeypatch):
    """Randomized (fixed-seed) merge sequence with CRASH INJECTION at the
    two deepest commit points (manifest write, pointer flip): a crashed
    attempt is never visible to readers, the next merge heals and commits,
    and the final state equals a reference dict replay of exactly the
    COMMITTED batches."""
    import random

    import pytest as _pytest

    import embulk_executor_mapreduce_spark.sinks.writer as W
    from embulk_executor_mapreduce_spark.errors import RemoteTaskFailedError
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    rng = random.Random(0xC4A5)
    out = str(tmp_path / "state")
    expect: dict[int, tuple[int, str]] = {}

    def reference_apply(rows):
        batch_best: dict[int, tuple[int, str]] = {}
        for k, name, ver in rows:
            if k not in batch_best or (ver, name) > batch_best[k]:
                batch_best[k] = (ver, name)
        for k, (ver, name) in batch_best.items():
            if k not in expect or (ver, 1, name) > (expect[k][0], 0, expect[k][1]):
                expect[k] = (ver, name)

    def run_merge(rows, sub):
        src = str(tmp_path / f"b{sub}")
        spark.createDataFrame(
            rows, "id long, name string, ver long"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=8))

    orig_fsync = W._fsync_write
    for step in range(10):
        rows = [
            (rng.randint(1, 12), f"s{step}_{rng.randint(0, 999)}", rng.randint(1, 9))
            for _ in range(rng.randint(2, 6))
        ]
        crash = rng.choice([None, None, "_CURRENT", "_manifests"]) if step > 0 else None
        if crash is None:
            run_merge(rows, step)
            reference_apply(rows)
        else:

            def boom(path, payload, _needle=crash):
                if _needle in path:
                    raise OSError(f"injected crash at {_needle} write")
                return orig_fsync(path, payload)

            with monkeypatch.context() as m:
                m.setattr(W, "_fsync_write", boom)
                with _pytest.raises(RemoteTaskFailedError, match="injected crash"):
                    run_merge(rows, step)
            # crashed attempt must be invisible: reference state unchanged
        if expect:
            got = {
                r.id: (r.ver, r.name)
                for r in read_merge_state(spark, out).collect()
            }
            assert got == expect, f"step {step}"
    assert len(expect) > 0


def test_merge_gc_preserves_user_files_at_state_root(spark, tmp_path):
    """ADVICE r4: _gc_merge_state sweeps only _trees/ and _manifests/ — a
    README, a tool marker or any other file at the state root survives
    every GC pass."""
    out = str(tmp_path / "state")

    def batch(rows, sub):
        src = str(tmp_path / f"src{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        run_pipeline(spark, _merge_spec(src, out))

    batch([(1, "a", 1)], 0)
    (Path(out) / "README.md").write_text("operator notes")
    (Path(out) / "_custom_marker").write_text("x")
    (Path(out) / "part-00099-deadbeef.parquet").write_text("junk")
    batch([(2, "b", 1)], 1)  # commit triggers GC
    names = {p.name for p in Path(out).iterdir()}
    assert {"README.md", "_custom_marker", "part-00099-deadbeef.parquet"} <= names
    # and the state is still fully readable through the pointer
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    assert read_merge_state(spark, out).count() == 2


def test_merge_report_output_tasks_counts_current_version_only(spark, tmp_path):
    """ADVICE r4: for mode=merge sinks the report's output_tasks must count
    only files referenced by the CURRENT manifest — a recursive root listing
    would also sweep retained older versions under _trees/ (snapshot
    retention keeps N-1 for concurrent readers)."""
    out = str(tmp_path / "state")

    def batch(rows, sub):
        src = str(tmp_path / f"src{sub}")
        spark.createDataFrame(rows, "id long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        return run_pipeline(spark, _merge_spec(src, out, merge_buckets=16))

    batch([(i, f"n{i}", 1) for i in range(40)], 0)
    rep = batch([(7, "updated", 9)], 1)  # prunes to ONE touched bucket
    refs = _manifest_buckets(out).values()
    current_files = sum(
        1
        for rel in refs
        for p in (Path(out) / rel).rglob("part-*")
        if not p.name.endswith(".crc")
    )
    all_files_on_disk = sum(
        1 for p in Path(out).rglob("part-*") if not p.name.endswith(".crc")
    )
    assert rep.output_tasks == current_files
    # retention keeps the previous version's replaced bucket dir on disk, so
    # the naive recursive count is strictly larger — the r4 over-count
    assert all_files_on_disk > current_files


def test_corpus_snapshot_id_without_success_markers(spark, tmp_path):
    """ADVICE r4: on deployments with success markers disabled
    (marksuccessfuljobs=false) corpus_snapshot_id falls back to structural
    commit evidence instead of silently excluding every batch; with markers
    present, a marker-less dir still reads as in-flight. ADVICE r5: the
    marker-mode decision is a per-deployment fact persisted via the
    _MARKERS_ENABLED sidecar, so it survives compaction absorbing every
    marker-bearing batch dir instead of degenerating to the structural
    fallback."""
    from embulk_executor_mapreduce_spark.sinks.compact import (
        compact_corpus,
        corpus_snapshot_id,
    )

    # -- markers-disabled deployment: fresh corpus, no _SUCCESS ever seen --
    bare = str(tmp_path / "bare")
    _mk_corpus(spark, bare, n_batches=3)
    for p in Path(bare).glob("ingest_batch=*/_SUCCESS"):
        p.unlink()
    # committed batches count via structural fallback (top-level part
    # files, no _temporary staging dir); no sidecar appears
    assert corpus_snapshot_id(bare) == 2
    assert not (Path(bare) / "_MARKERS_ENABLED").exists()
    # an in-flight dir (staging only, no committed files) is excluded
    bare_inflight = Path(bare) / "ingest_batch=9"
    (bare_inflight / "_temporary" / "task").mkdir(parents=True)
    assert corpus_snapshot_id(bare) == 2

    # -- marker-enabled deployment --
    corpus = str(tmp_path / "corpus")
    _mk_corpus(spark, corpus, n_batches=3)
    assert corpus_snapshot_id(corpus) == 2
    assert (Path(corpus) / "_MARKERS_ENABLED").exists()  # decision persisted

    # an unmarked dir is in-flight even when it structurally resembles a
    # committed one (part files, no _temporary)
    inflight = Path(corpus) / "ingest_batch=9"
    inflight.mkdir()
    (inflight / "part-00000.parquet").write_text("uncommitted task output")
    assert corpus_snapshot_id(corpus) == 2

    # compaction absorbs EVERY marker-bearing batch dir; only the in-flight
    # dir remains live. Pre-r5 the scan re-inferred "markers disabled" and
    # the structural fallback pinned the uncommitted batch 9 — the sidecar
    # must keep marker mode sticky.
    compact_corpus(spark, corpus, through=2)
    assert not list(Path(corpus).glob("ingest_batch=[012]")), "absorbed"
    assert corpus_snapshot_id(corpus) == 2


def test_merge_sink_concurrent_writers_both_land(spark, tmp_path):
    """Multi-writer CAS (SCALING §10 caveat (c), closed r5): two writers
    upserting DISJOINT key ranges concurrently — both commits must land
    (no lost update), history must be linear (every version derives from
    its predecessor), and the final state is the union of both writers'
    latest rows. Pattern-cited from
    test_merge_sink_concurrent_reader_sees_old_or_new_never_mix."""
    import threading

    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")

    # seed so both writers contend on an existing pointer
    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [(i, f"seed{i}", 0) for i in range(20)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(seed)
    run_pipeline(spark, _merge_spec(seed, out, merge_buckets=8))

    errs = []

    def writer(lo: int, rounds: int):
        try:
            for r in range(1, rounds + 1):
                src = str(tmp_path / f"w{lo}_{r}")
                spark.createDataFrame(
                    [(lo + i, f"w{lo}r{r}", r) for i in range(5)],
                    "id long, name string, ver long",
                ).coalesce(1).write.mode("overwrite").parquet(src)
                run_pipeline(spark, _merge_spec(src, out, merge_buckets=8))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(100, 3))
    t2 = threading.Thread(target=writer, args=(200, 3))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    # every writer's FINAL round won its keys; seeds untouched
    for lo in (100, 200):
        for i in range(5):
            assert state[lo + i] == (f"w{lo}r3", 3), (lo + i, state.get(lo + i))
    assert state[0] == ("seed0", 0) and len(state) == 30

    # linear history: the pointer advanced once per commit (1 seed + 6
    # upserts = version 6), no version number skipped or double-assigned
    import json

    version = json.loads((Path(out) / "_CURRENT").read_text())["version"]
    assert version == 6


def test_merge_sink_cas_conflict_retries_and_lands(spark, tmp_path, monkeypatch):
    """Deterministic CAS conflict: a competing commit is injected between a
    writer's merge compute and its commit — the writer's first CAS must
    FAIL (stale snapshot), and the retry must recompute against the
    competitor's snapshot so ITS rows survive in the final state."""
    import json

    from embulk_executor_mapreduce_spark.sinks import writer as W

    out = str(tmp_path / "state")
    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [(i, f"seed{i}", 0) for i in range(10)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(seed)
    run_pipeline(spark, _merge_spec(seed, out, merge_buckets=4))

    real_commit = W._commit_merge_version
    calls = {"n": 0}

    def inject_competitor_then_commit(
        local, expected, new_version, attempt, buckets, layout=None,
        schema=None,
    ):
        calls["n"] += 1
        if calls["n"] == 1:
            # competitor: advance the pointer with a carbon-copy manifest
            # (a legitimate commit whose merge touched nothing this writer
            # can see) — exactly what a concurrent writer's landed commit
            # looks like to the CAS. Carbon-copy includes the layout (r14):
            # the retrying writer validates its spec against it.
            cur = json.loads((Path(local) / "_CURRENT").read_text())["version"]
            man = json.loads(
                (Path(local) / "_manifests" / f"v{cur}.json").read_text()
            )
            nxt = cur + 1
            (Path(local) / "_manifests" / f"v{nxt}.json").write_text(
                json.dumps({**man, "version": nxt})
            )
            (Path(local) / "_CURRENT").write_text(json.dumps({"version": nxt}))
        return real_commit(
            local, expected, new_version, attempt, buckets, layout, schema
        )

    monkeypatch.setattr(W, "_commit_merge_version", inject_competitor_then_commit)

    src = str(tmp_path / "batch")
    spark.createDataFrame(
        [(3, "updated", 9)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    run_pipeline(spark, _merge_spec(src, out, merge_buckets=4))

    assert calls["n"] == 2  # first CAS lost, retry won
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert state[3] == ("updated", 9) and len(state) == 10
    # retry committed ON TOP of the competitor's version: seed=v0,
    # competitor=v1, this writer=v2
    assert json.loads((Path(out) / "_CURRENT").read_text())["version"] == 2


def test_merge_sink_cas_exhaustion_raises(spark, tmp_path, monkeypatch):
    """A writer that loses every CAS raises MergeCommitConflictError and
    leaves the state exactly as the competitors committed it."""
    from embulk_executor_mapreduce_spark.errors import MergeCommitConflictError
    from embulk_executor_mapreduce_spark.sinks import writer as W

    out = str(tmp_path / "state")
    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [(i, f"seed{i}", 0) for i in range(6)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(seed)
    run_pipeline(spark, _merge_spec(seed, out, merge_buckets=4))

    monkeypatch.setattr(W, "_commit_merge_version", lambda *a, **k: False)
    monkeypatch.setattr(W, "_MERGE_COMMIT_RETRIES", 2)

    src = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, "x", 9)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    with pytest.raises(MergeCommitConflictError):
        run_pipeline(spark, _merge_spec(src, out, merge_buckets=4))
    # no stale attempt litter survives the failed run
    trees = Path(out) / "_trees"
    assert not any(p.name.startswith(".inprogress-") for p in trees.iterdir())
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    assert read_merge_state(spark, out).count() == 6


def test_merge_gc_sweeps_crash_orphans_keeps_live_attempts(spark, tmp_path):
    """Multi-writer GC discipline (ADVICE r5 high): a STALE unreferenced
    FINAL-named tree AHEAD of the pointer (a winner that crashed between
    rename and manifest) and a STALE .inprogress attempt (crashed pre-CAS)
    are swept; a FRESH .inprogress attempt (a live concurrent writer pre-
    CAS) and a FRESH ahead-of-pointer final tree (a live committer inside
    the CAS lock that renamed its attempt but has not yet written the
    manifest) are never touched — sweeping the latter was the GC/commit
    race that made a just-committed version permanently unreadable."""
    import os
    import time

    from embulk_executor_mapreduce_spark.sinks.writer import (
        _gc_merge_state,
        read_merge_state,
    )

    out = str(tmp_path / "state")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    run_pipeline(spark, _merge_spec(src, out))

    trees = Path(out) / "_trees"
    old = time.time() - 48 * 3600
    # crashed winner: renamed to final v99 but died before its manifest
    # (stale, so sweepable); v98 models a LIVE committer mid-CAS — renamed
    # seconds ago, manifest not yet written — and must survive
    (trees / "v99" / "__mbd=0").mkdir(parents=True)
    (trees / "v99" / "__mbd=0" / "part-00000.parquet").write_text("orphan")
    os.utime(trees / "v99", (old, old))
    (trees / "v98" / "__mbd=3").mkdir(parents=True)
    (trees / "v98" / "__mbd=3" / "part-00000.parquet").write_text("live commit")
    # crashed pre-CAS attempt (stale) vs a live concurrent attempt (fresh)
    (trees / ".inprogress-deadbeef" / "__mbd=1").mkdir(parents=True)
    os.utime(trees / ".inprogress-deadbeef", (old, old))
    (trees / ".inprogress-fresh123" / "__mbd=2").mkdir(parents=True)

    _gc_merge_state(out, keep_versions=2)
    names = {p.name for p in trees.iterdir()}
    assert "v99" not in names, names
    assert ".inprogress-deadbeef" not in names, names
    assert ".inprogress-fresh123" in names, names
    assert "v98" in names and (trees / "v98" / "__mbd=3").exists(), names
    # committed state untouched
    assert read_merge_state(spark, out).count() == 2


def test_merge_sink_concurrent_writers_with_crash_injection(
    spark, tmp_path, monkeypatch
):
    """CAS protocol under the worst interleaving: two writers upserting
    concurrently while ONE pointer flip is crash-injected mid-race. The
    crashed attempt must be invisible (no partial commit), the crashed
    writer's retry must land on top of whatever the other writer committed
    meanwhile, and the final state/history must equal the no-crash
    outcome."""
    import threading

    import embulk_executor_mapreduce_spark.sinks.writer as W
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")
    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [(i, f"seed{i}", 0) for i in range(10)], "id long, name string, ver long"
    ).coalesce(1).write.mode("overwrite").parquet(seed)
    run_pipeline(spark, _merge_spec(seed, out, merge_buckets=8))

    orig_fsync = W._fsync_write
    crashed = threading.Event()

    def crash_once(path, payload):
        # exactly ONE pointer flip dies, whichever writer gets there first
        if path.endswith("_CURRENT") and not crashed.is_set():
            crashed.set()
            raise OSError("injected crash at pointer flip")
        return orig_fsync(path, payload)

    monkeypatch.setattr(W, "_fsync_write", crash_once)

    errs = []

    def writer(lo: int, rounds: int):
        for r in range(1, rounds + 1):
            src = str(tmp_path / f"w{lo}_{r}")
            spark.createDataFrame(
                [(lo + i, f"w{lo}r{r}", r) for i in range(4)],
                "id long, name string, ver long",
            ).coalesce(1).write.mode("overwrite").parquet(src)
            for attempt in (1, 2):
                try:
                    run_pipeline(spark, _merge_spec(src, out, merge_buckets=8))
                    break
                except Exception as exc:  # noqa: BLE001
                    if "injected crash" not in str(exc) or attempt == 2:
                        errs.append(exc)
                        return

    t1 = threading.Thread(target=writer, args=(100, 3))
    t2 = threading.Thread(target=writer, args=(200, 3))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert crashed.is_set()  # the injection actually fired

    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    for lo in (100, 200):
        for i in range(4):
            assert state[lo + i] == (f"w{lo}r3", 3), (lo + i, state.get(lo + i))
    assert state[0] == ("seed0", 0) and len(state) == 18
    # 1 seed + 6 successful upserts; the crashed attempt never took a
    # version number (pointer flip IS the commit)
    import json

    assert json.loads((Path(out) / "_CURRENT").read_text())["version"] == 6
