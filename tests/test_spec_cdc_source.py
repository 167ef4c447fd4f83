"""Declarative CDC source (``in: {type: table_changes}``) and the
``drift_report`` gate stage (VERDICT r10 items 1 + 8): the merge sink's
change feed read from pure YAML, composing with the existing filter
surface, plus the Deequ-style "verification as part of the pipeline"
story — a spec that fails a load when a commit drifts out of bounds."""

from __future__ import annotations

import tempfile

import pytest

from embulk_executor_mapreduce_spark.errors import (
    ConfigError,
    RemoteTaskFailedDataError,
)
from embulk_executor_mapreduce_spark.plans.compiler import (
    compile_pipeline,
    run_pipeline,
    run_pipeline_streaming,
)
from embulk_executor_mapreduce_spark.sinks.changes import (
    materialize_changes,
    table_changes,
)
from embulk_executor_mapreduce_spark.sinks.writer import write_sink
from embulk_executor_mapreduce_spark.spec import SinkSpec, load_spec


@pytest.fixture()
def state3(spark):
    """3-commit merge state: v1 updates k=3 and inserts k=100; v2 updates
    k=5 (same construction family as tests/test_changes.py)."""
    path = tempfile.mkdtemp(prefix="spec_cdc_state_") + "/state"
    sink = SinkSpec(
        type="parquet",
        path=path,
        mode="merge",
        merge_key=("k",),
        merge_order=("o",),
        merge_buckets=8,
        merge_keep_versions=3,
    )
    base = spark.createDataFrame(
        [(k, 0, f"v{k}") for k in range(16)], "k bigint, o int, s string"
    )
    write_sink(base, sink)  # v0
    write_sink(
        spark.createDataFrame(
            [(3, 0, "CHANGED"), (100, 0, "NEW")], "k bigint, o int, s string"
        ),
        sink,
    )  # v1
    write_sink(
        spark.createDataFrame([(5, 0, "ALSO")], "k bigint, o int, s string"),
        sink,
    )  # v2
    return path


def _cdc_in(path, **over):
    block = {
        "type": "table_changes",
        "path": path,
        "keys": ["k"],
        "from_version": 0,
        "to_version": 2,
        "per_version": True,
    }
    block.update(over)
    return block


def test_spec_cdc_source_matches_api_and_composes_with_filters(spark, state3):
    """The YAML feed must equal the API feed bit for bit, and the filter
    chain composes downstream (a consumer enriching / gating a feed writes
    zero Python)."""
    report = run_pipeline(
        spark,
        load_spec(
            {
                "in": _cdc_in(state3),
                "filters": [
                    {"type": "filter", "predicate": "_change_type <> 'update_preimage'"},
                    {
                        "type": "with_column",
                        "name": "is_insert",
                        "expr": "_change_type = 'insert'",
                    },
                ],
                "out": {"type": "memory", "options": {"view": "cdc_yaml"}},
            }
        ),
    )
    got = spark.table("cdc_yaml")
    api = (
        table_changes(spark, state3, ["k"], 0, 2, per_version=True)
        .filter("_change_type <> 'update_preimage'")
        .selectExpr("*", "_change_type = 'insert' as is_insert")
    )
    key = lambda df: sorted(  # noqa: E731
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )
    assert got.columns == api.columns
    assert key(got) == key(api)
    assert report.output_rows == got.count() > 0


def test_spec_cdc_source_net_endpoint_default(spark, state3):
    """per_version defaults false: the net endpoint diff, no commit column."""
    df = compile_pipeline(
        spark,
        load_spec(
            {
                "in": {
                    "type": "table_changes",
                    "path": state3,
                    "keys": ["k"],
                    "from_version": 0,
                },
                "out": {"type": "null"},
            }
        ),
    )
    assert "_commit_version" not in df.columns
    assert "_change_type" in df.columns
    assert df.count() > 0


def test_spec_cdc_source_changelog_provenance(spark, state3):
    """use_changelog: true through YAML serves the persisted files — the
    scan reads only _changelog/ (the O(1)-plan-width path)."""
    materialize_changes(spark, state3, ["k"])
    df = compile_pipeline(
        spark,
        load_spec({"in": _cdc_in(state3, use_changelog=True), "out": {"type": "null"}}),
    )
    files = df.inputFiles()
    assert files and all("/_changelog/" in f for f in files)


def test_spec_cdc_source_validation_matrix(spark, state3):
    """The plan-time ConfigError matrix (reference ConfigException parity:
    a bad config never submits a job)."""
    bad = [
        ({"type": "table_changes", "keys": ["k"], "from_version": 0}, "path"),
        (_cdc_in(state3, keys=[]), "keys"),
        ({k: v for k, v in _cdc_in(state3).items() if k != "from_version"},
         "from_version"),
        (_cdc_in(state3, from_version=-1), "from_version"),
        (_cdc_in(state3, to_version=0, from_version=2), "to_version"),
        ({**_cdc_in(state3, use_changelog=True), "per_version": False},
         "per_version"),
        (_cdc_in(state3, options={"format": "avro"}), "format"),
        (_cdc_in(state3, columns=[{"name": "k", "type": "long"}]), "columns"),
        (_cdc_in(state3, stop_on_invalid_record=True), "invalid-record"),
    ]
    for block, needle in bad:
        with pytest.raises(ConfigError, match=needle):
            load_spec({"in": block, "out": {"type": "null"}})
    # CDC-only fields on a non-CDC source are rejected too
    with pytest.raises(ConfigError, match="table_changes"):
        load_spec(
            {
                "in": {"type": "parquet", "path": state3, "keys": ["k"]},
                "out": {"type": "null"},
            }
        )


def test_spec_cdc_source_use_changelog_must_be_bool(spark, state3):
    """ADVICE r11: a quoted YAML scalar (`use_changelog: "false"` / "auto")
    is a truthy STRING and would silently select strict changelog mode —
    rejected at load with the field named."""
    for bad in ("false", "true", "auto", 1, 0):
        with pytest.raises(ConfigError, match="use_changelog"):
            load_spec(
                {
                    "in": _cdc_in(state3, use_changelog=bad),
                    "out": {"type": "null"},
                }
            )


def test_spec_cdc_source_use_changelog_false_net_endpoint_ok(spark, state3):
    """ADVICE r11: `use_changelog: false` just pins the recompute
    provenance, which is valid for the NET endpoint feed too (per_version
    defaulting false) — the spec layer must not be stricter than the
    sinks API. The pinned read equals the default read bit for bit."""
    block = {
        "type": "table_changes",
        "path": state3,
        "keys": ["k"],
        "from_version": 0,
        "use_changelog": False,
    }
    df = compile_pipeline(
        spark, load_spec({"in": block, "out": {"type": "null"}})
    )
    assert "_commit_version" not in df.columns
    api = table_changes(spark, state3, ["k"], 0, use_changelog=False)
    key = lambda f: sorted(  # noqa: E731
        tuple(r[c] for c in sorted(f.columns)) for r in f.collect()
    )
    assert df.columns == api.columns
    assert key(df) == key(api)


def test_cdc_tail_stream_equals_batch_and_retry_idempotence(spark, state3):
    """r12 (VERDICT r11 item 3): the streaming CDC tail must deliver the
    SAME multiset as the batch per-version feed, write exactly-once under
    a retry that re-runs an already-written version (crash after write,
    before the checkpoint advance), and resume incrementally — a later
    call with the same checkpoint processes only newly committed
    versions, and a version with an empty feed (an identical re-commit)
    advances the checkpoint without a partition."""
    import json
    import os

    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="cdc_tail_")
    out, ck = base + "/out", base + "/ck"
    spec_doc = {
        "in": _cdc_in(state3, options={"checkpoint": ck}),
        "out": {"type": "parquet", "path": out},
    }
    report = run_pipeline_streaming(spark, load_spec(spec_doc))
    assert report.succeeded and report.partitioned is False

    def read_out():
        # _commit_version comes back as a discovered partition column
        # (int); cast to the feed's long for the comparison
        return (
            spark.read.parquet(out)
            .withColumn("_commit_version", F.col("_commit_version").cast("long"))
        )

    key = lambda df: sorted(  # noqa: E731
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )
    batch = table_changes(spark, state3, ["k"], 0, 2, per_version=True)
    batch_rows = key(batch)  # collected NOW — v0's manifest ages out below
    first = key(read_out())
    assert sorted(read_out().columns) == sorted(batch.columns)
    assert first == batch_rows
    assert report.input_rows == len(first) > 0

    # retry: rewind the checkpoint one version — the tail re-runs v2 and
    # the dynamic _commit_version partition overwrite leaves the output
    # bit-identical (no appended duplicates)
    with open(os.path.join(ck, "offset.json")) as f:
        assert json.load(f) == {"last_version": 2}
    with open(os.path.join(ck, "offset.json"), "w") as f:
        json.dump({"last_version": 1}, f)
    run_pipeline_streaming(spark, load_spec(spec_doc))
    assert key(read_out()) == first

    # incremental: commit v3, re-tail with the SAME checkpoint (and no
    # to_version cap) — only the new version is processed and appended
    sink = SinkSpec(
        type="parquet",
        path=state3,
        mode="merge",
        merge_key=("k",),
        merge_order=("o",),
        merge_buckets=8,
        merge_keep_versions=3,
    )
    for _ in range(2):
        write_sink(
            spark.createDataFrame([(7, 0, "TAIL")], "k bigint, o int, s string"),
            sink,
        )  # v3, then an identical re-commit v4 whose feed is empty
    doc3 = dict(spec_doc)
    doc3["in"] = {k: v for k, v in spec_doc["in"].items() if k != "to_version"}
    r3 = run_pipeline_streaming(spark, load_spec(doc3))
    v3_rows = key(table_changes(spark, state3, ["k"], 2, 3, per_version=True))
    assert r3.input_rows == len(v3_rows) > 0
    assert key(read_out()) == sorted(batch_rows + v3_rows)
    # the empty v4 advances the checkpoint with no sink write
    with open(os.path.join(ck, "offset.json")) as f:
        assert json.load(f) == {"last_version": 4}
    assert not os.path.exists(os.path.join(out, "_commit_version=4"))


def test_cdc_tail_reads_one_span_per_poll(spark, state3, monkeypatch, tmp_path):
    """The declarative tail runs the shared version-tail loop: a 2-version
    catch-up reads the change feed once, as one (0, 2] span, and slices
    each version out of it."""
    from embulk_executor_mapreduce_spark.sinks import changes

    real = changes.table_changes
    calls = []

    def spy(spark_, path, keys, from_version, to_version=None, **kw):
        calls.append((from_version, to_version))
        return real(spark_, path, keys, from_version, to_version, **kw)

    monkeypatch.setattr(changes, "table_changes", spy)
    out = str(tmp_path / "o")
    doc = {"in": _cdc_in(state3), "out": {"type": "parquet", "path": out}}
    assert run_pipeline_streaming(spark, load_spec(doc)).succeeded
    assert calls == [(0, 2)]
    parts = spark.read.parquet(out).select("_commit_version").distinct()
    assert {r[0] for r in parts.collect()} == {1, 2}


def test_cdc_tail_into_downstream_merge_mirror(spark, state3):
    """The natural consumer pairing (VERDICT r11): merge-sink upserts →
    streamed change feed → a DOWNSTREAM merge sink. Keeping postimage+insert
    rows and upserting them by key makes the mirror's live rows converge to
    the source state's (minus rows the mirror never saw change)."""
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    base = tempfile.mkdtemp(prefix="cdc_mirror_")
    mirror = base + "/mirror"
    report = run_pipeline_streaming(
        spark,
        load_spec(
            {
                "in": _cdc_in(state3, options={"checkpoint": base + "/ck"}),
                "filters": [
                    {
                        "type": "filter",
                        "predicate": "_change_type IN ('insert', 'update_postimage')",
                    },
                    {"type": "drop", "columns": ["_change_type"]},
                ],
                "out": {
                    "type": "parquet",
                    "path": mirror,
                    "mode": "merge",
                    "merge_key": ["k"],
                    "merge_order": ["_commit_version"],
                    "merge_buckets": 4,
                },
            }
        ),
    )
    assert report.succeeded
    got = {
        r.k: r.s
        for r in read_merge_state(spark, mirror).select("k", "s").collect()
    }
    # v1 changed k=3 and inserted k=100; v2 changed k=5 — exactly the keys
    # the feed carries, at their POST-change values
    assert got == {3: "CHANGED", 100: "NEW", 5: "ALSO"}


def test_cdc_tail_requires_per_version_and_file_sink(spark, state3):
    with pytest.raises(ConfigError, match="per_version"):
        run_pipeline_streaming(
            spark,
            load_spec(
                {
                    "in": _cdc_in(state3, per_version=False),
                    "out": {"type": "parquet", "path": tempfile.mkdtemp() + "/o"},
                }
            ),
        )
    with pytest.raises(ConfigError, match="memory"):
        run_pipeline_streaming(
            spark,
            load_spec({"in": _cdc_in(state3), "out": {"type": "memory"}}),
        )


# ---------------------------------------------------------------------------
# drift_report stage
# ---------------------------------------------------------------------------


def _drift_filters(gate=False, checks=None):
    return [
        {
            "type": "drift_report",
            "checks": checks
            if checks is not None
            else [
                {"id": "rows", "kind": "row_delta", "lo": 0, "hi": 0},
                {
                    "id": "nulls",
                    "kind": "null_delta",
                    "column": "s",
                    "lo": 0,
                    "hi": 0,
                },
            ],
            "gate": gate,
        }
    ]


def test_spec_drift_report_stage_report_rows(spark, state3):
    """gate: false → the stage replaces the feed with the tidy report;
    v1's insert (k=100) lands row_delta=1 (out of the [0,0] bounds), v2's
    pure update lands 0; null flips never happen so null_delta passes."""
    run_pipeline(
        spark,
        load_spec(
            {
                "in": _cdc_in(state3),
                "filters": _drift_filters(),
                "out": {"type": "memory", "options": {"view": "drift_yaml"}},
            }
        ),
    )
    rows = {
        (r.constraint_id, r._commit_version): (r.metric, r.passed)
        for r in spark.table("drift_yaml").collect()
    }
    assert rows == {
        ("rows", 1): (1, False),
        ("rows", 2): (0, True),
        ("nulls", 1): (0, True),
        ("nulls", 2): (0, True),
    }


def test_spec_drift_gate_fails_load_as_user_data_error(spark, state3):
    """gate: true → the out-of-bounds commit fails the load in-plan, and
    run_pipeline classifies it as a user-data failure (the reference's
    user-data vs infra split, AttemptState.java:97-116)."""
    with pytest.raises(RemoteTaskFailedDataError, match="drift_gate violation"):
        run_pipeline(
            spark,
            load_spec(
                {
                    "in": _cdc_in(state3),
                    "filters": _drift_filters(gate=True),
                    "out": {"type": "memory", "options": {"view": "gate_fail"}},
                }
            ),
        )
    # in-bounds checks sail through the same gate
    run_pipeline(
        spark,
        load_spec(
            {
                "in": _cdc_in(state3),
                "filters": _drift_filters(
                    gate=True,
                    checks=[{"id": "rows", "kind": "row_delta", "lo": 0, "hi": 5}],
                ),
                "out": {"type": "memory", "options": {"view": "gate_ok"}},
            }
        ),
    )
    got = spark.table("gate_ok")
    assert {(r.constraint_id, r._commit_version) for r in got.collect()} == {
        ("rows", 1),
        ("rows", 2),
    }
    assert all(r.passed for r in got.collect())


def test_spec_drift_report_config_errors(spark, state3):
    """The stage's own ConfigError matrix, including the not-a-CDC-feed
    shape (drift over a plain parquet source is a spec bug, caught at
    plan time, never a runtime AnalysisException)."""
    cases = [
        (_cdc_in(state3), [{"type": "drift_report"}], "checks"),
        (_cdc_in(state3), _drift_filters(checks=[{"kind": "row_delta"}]), "lo"),
        (
            _cdc_in(state3),
            _drift_filters(checks=[{"kind": "nope", "lo": 0, "hi": 0}]),
            "unknown constraint kind",
        ),
        (
            _cdc_in(state3),
            _drift_filters(
                checks=[{"kind": "null_delta", "column": "zz", "lo": 0, "hi": 0}]
            ),
            "missing from the feed",
        ),
        (
            _cdc_in(state3),
            _drift_filters(
                checks=[{"kind": "not_null", "column": "s", "lo": 0, "hi": 0}]
            ),
            "not a drift kind",
        ),
    ]
    for in_block, filters, needle in cases:
        with pytest.raises(ConfigError, match=needle):
            compile_pipeline(
                spark,
                load_spec(
                    {"in": in_block, "filters": filters, "out": {"type": "null"}}
                ),
            )
    # a non-CDC source under the stage: the feed lacks _change_type
    src = tempfile.mkdtemp(prefix="drift_plain_") + "/t"
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(src)
    with pytest.raises(ConfigError, match="per-version CDC feed"):
        compile_pipeline(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": src},
                    "filters": _drift_filters(),
                    "out": {"type": "null"},
                }
            ),
        )
    # batch-only: the streaming front door rejects it up front
    with pytest.raises(ConfigError, match="not streamable"):
        run_pipeline_streaming(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": src},
                    "filters": _drift_filters(),
                    "out": {"type": "parquet", "path": src + "_o"},
                }
            ),
        )


def test_spec_cdc_source_scalar_keys_rejected_and_join_path_validates(
    spark, state3
):
    """r11 review findings 4+5: a scalar YAML `keys:` fails at parse time
    with the field named (tuple('doc_id') would silently become single
    characters), and the JOIN filter's lookup-side path — which bypasses
    PipelineSpec.validate — runs the same full config matrix."""
    with pytest.raises(ConfigError, match="LIST of column names"):
        load_spec(
            {"in": _cdc_in(state3, keys="doc_id"), "out": {"type": "null"}}
        )
    src = tempfile.mkdtemp(prefix="cdc_join_") + "/t"
    spark.createDataFrame([(3, "x")], "k long, s string").write.parquet(src)

    def join_spec(lookup):
        return load_spec(
            {
                "in": {"type": "parquet", "path": src},
                "filters": [
                    {"type": "join", "source": lookup, "on": ["k"]}
                ],
                "out": {"type": "null"},
            }
        )

    # use_changelog without per_version through the JOIN path: ConfigError
    # with the spec-level message, not a ValueError from table_changes
    bad = {
        "type": "table_changes",
        "path": state3,
        "keys": ["k"],
        "from_version": 0,
        "use_changelog": True,
    }
    with pytest.raises(ConfigError, match="per_version"):
        compile_pipeline(spark, join_spec(bad))
    # and a well-formed CDC lookup source works through the join
    good = {
        "type": "table_changes",
        "path": state3,
        "keys": ["k"],
        "from_version": 0,
        "to_version": 2,
        "per_version": True,
    }
    out = compile_pipeline(spark, join_spec(good))
    assert out.count() > 0  # k=3 changed in v1 and v2 → join hits


def test_cdc_tail_config_error_contract(spark, state3, tmp_path):
    """r12 review finding 5: config-class mistakes surface as ConfigError,
    never as raw JSONDecodeError / infra-classified failures — a corrupt
    checkpoint, a negative poll rate, and a non-merge-state path."""
    import os

    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    with open(os.path.join(ck, "offset.json"), "w") as f:
        f.write("{truncated")
    out = {"type": "parquet", "path": str(tmp_path / "o")}
    with pytest.raises(ConfigError, match="checkpoint"):
        run_pipeline_streaming(
            spark,
            load_spec({"in": _cdc_in(state3, options={"checkpoint": ck}), "out": out}),
        )
    with pytest.raises(ConfigError, match="poll_seconds"):
        run_pipeline_streaming(
            spark,
            load_spec(
                {"in": _cdc_in(state3, options={"poll_seconds": -1}), "out": out}
            ),
        )
    not_state = str(tmp_path / "empty")
    os.makedirs(not_state)
    with pytest.raises(ConfigError, match="merge state"):
        run_pipeline_streaming(
            spark, load_spec({"in": _cdc_in(not_state), "out": out})
        )


def test_spec_merge_state_source_reads_and_time_travels(spark, state3):
    """r12: `in: {type: merge_state}` reads the committed keyed state
    (pointer → manifest → bucket dirs) and options.version time-travels;
    the internal bucket column never leaks into the result."""
    cur = compile_pipeline(
        spark,
        load_spec(
            {"in": {"type": "merge_state", "path": state3}, "out": {"type": "null"}}
        ),
    )
    assert cur.columns == ["k", "o", "s"]
    got = {r.k: r.s for r in cur.collect()}
    assert got[3] == "CHANGED" and got[5] == "ALSO" and got[100] == "NEW"

    v0 = compile_pipeline(
        spark,
        load_spec(
            {
                "in": {
                    "type": "merge_state",
                    "path": state3,
                    "options": {"version": 0},
                },
                "out": {"type": "null"},
            }
        ),
    )
    base = {r.k: r.s for r in v0.collect()}
    assert base == {k: f"v{k}" for k in range(16)}


def test_spec_merge_state_source_validation_and_parquet_trap(spark, state3, tmp_path):
    """Bad merge_state configs fail as ConfigError at plan time, an expired
    version names the retention, and the old silent-zero-rows trap — a
    plain parquet source pointed at a pointer-era state — is rejected
    loudly with the fix named."""
    from embulk_executor_mapreduce_spark.sources.readers import read_source

    bad = [
        ({"type": "merge_state"}, "path"),
        ({"type": "merge_state", "path": state3, "options": {"version": -1}},
         "version"),
        ({"type": "merge_state", "path": state3, "options": {"version": "x"}},
         "version"),
        ({"type": "merge_state", "path": state3,
          "options": {"format": "avro"}}, "format"),
        ({"type": "merge_state", "path": state3,
          "columns": [{"name": "k", "type": "long"}]}, "columns"),
        ({"type": "merge_state", "path": state3, "keys": ["k"]},
         "table_changes"),
        ({"type": "merge_state", "path": state3,
          "stop_on_invalid_record": True}, "invalid-record"),
    ]
    for block, needle in bad:
        with pytest.raises(ConfigError, match=needle):
            load_spec({"in": block, "out": {"type": "null"}})
    # expired / never-committed version: the sinks API's retention error
    with pytest.raises(FileNotFoundError, match="no version"):
        compile_pipeline(
            spark,
            load_spec(
                {
                    "in": {
                        "type": "merge_state",
                        "path": state3,
                        "options": {"version": 99},
                    },
                    "out": {"type": "null"},
                }
            ),
        ).count()
    # the trap: a plain file source on a pointer-era state must not
    # silently return an empty frame — for EVERY format a merge sink can
    # store (r12 review second pass: csv/json were initially unguarded)
    for blk in (
        {"type": "parquet", "path": state3},
        {"type": "orc", "path": state3},
        {"type": "json", "path": state3},
        {
            "type": "csv",
            "path": state3,
            "columns": [{"name": "k", "type": "long"}],
        },
        # text/binaryfile see the same zero-file listing on a state dir
        # (every state artifact is underscore-prefixed) — r12 residue
        {"type": "text", "path": state3},
        {"type": "binaryfile", "path": state3},
    ):
        with pytest.raises(ConfigError, match="merge_state"):
            read_source(
                spark,
                load_spec({"in": blk, "out": {"type": "null"}}).source,
            )
    # the STREAMING front door shares the trap, and silently worse: a file
    # stream on a state dir watches an empty directory forever
    with pytest.raises(ConfigError, match="merge_state"):
        run_pipeline_streaming(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": state3},
                    "out": {"type": "parquet", "path": str(tmp_path / "so")},
                }
            ),
        )


def test_cdc_tail_follow_mode_picks_up_live_commits(spark, state3, tmp_path):
    """max_polls > 1 turns the tail into a follow loop: a version committed
    AFTER the tail starts (between polls) is delivered in the same run."""
    import threading
    import time as _time

    from pyspark.sql import functions as F

    out, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    doc = {
        "in": {
            "type": "table_changes",
            "path": state3,
            "keys": ["k"],
            "from_version": 0,
            "per_version": True,
            "options": {"checkpoint": ck, "max_polls": 6, "poll_seconds": 1.0},
        },
        "out": {"type": "parquet", "path": out},
    }
    sink = SinkSpec(
        type="parquet",
        path=state3,
        mode="merge",
        merge_key=("k",),
        merge_order=("o",),
        merge_buckets=8,
        merge_keep_versions=3,
    )

    def commit_late():
        _time.sleep(2.0)
        write_sink(
            spark.createDataFrame(
                [(42, 0, "LIVE")], "k bigint, o int, s string"
            ),
            sink,
        )  # v3, lands mid-follow

    t = threading.Thread(target=commit_late)
    t.start()
    report = run_pipeline_streaming(spark, load_spec(doc))
    t.join()
    assert report.succeeded
    vs = sorted(
        r.v
        for r in spark.read.parquet(out)
        .select(F.col("_commit_version").cast("long").alias("v"))
        .distinct()
        .collect()
    )
    assert vs == [1, 2, 3], vs  # the live commit was tailed in-run
