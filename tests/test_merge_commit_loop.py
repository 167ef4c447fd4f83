"""The staged-tree CAS loop (``writer._commit_loop``) on every caller.

The merge sink, ``purge_tombstones`` and ``compact_merge_state`` differ only
in their plan step; the attempt trees, the stale-snapshot and lost-CAS
retries, the pointer commit and ``MergeCommitConflictError`` are one loop.
Each test below runs once per caller, so a caller that bypassed the loop
(or a loop change that broke one caller) shows up by name.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from embulk_executor_mapreduce_spark.errors import MergeCommitConflictError
from embulk_executor_mapreduce_spark.sinks import writer as W
from embulk_executor_mapreduce_spark.spec import SinkSpec

OPS = ["merge", "purge_tombstones", "compact_merge_state"]


def _spec(path: str) -> SinkSpec:
    return SinkSpec(
        type="parquet",
        path=path,
        mode="merge",
        merge_key=("id",),
        merge_order=("ver",),
        merge_buckets=4,
        delete_column="gone",
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, ver long, gone boolean")


def _version(path: str) -> int:
    return json.loads((Path(path) / "_CURRENT").read_text())["version"]


@pytest.fixture()
def state(spark, tmp_path):
    """10 live seed keys, then keys 0 and 1 tombstoned (two versions)."""
    spec = _spec(str(tmp_path / "state"))
    W.write_sink(_rows(spark, [(i, f"seed{i}", 0, False) for i in range(10)]), spec)
    W.write_sink(_rows(spark, [(i, None, 1, True) for i in (0, 1)]), spec)
    return spec


def _run(spark, op: str, spec: SinkSpec):
    """Run one commit of ``op`` against the state."""
    if op == "merge":
        W.write_sink(_rows(spark, [(3, "updated", 9, False)]), spec)
    elif op == "purge_tombstones":
        assert W.purge_tombstones(spark, spec) == 2
    else:
        stale = lambda: spark.createDataFrame([(5,)], "id long")  # noqa: E731
        assert W.compact_merge_state(spark, spec, stale) == 1


def _expected(op: str) -> dict:
    """Every row of the state after one commit of ``op``, by id."""
    rows = {i: (f"seed{i}", 0, False) for i in range(2, 10)}
    rows.update({0: (None, 1, True), 1: (None, 1, True)})
    if op == "merge":
        rows[3] = ("updated", 9, False)
    elif op == "purge_tombstones":
        del rows[0], rows[1]
    else:
        del rows[5]
    return rows


def _state_rows(spark, spec: SinkSpec) -> dict:
    return {
        r.id: (r.name, r.ver, r.gone)
        for r in W.read_merge_state(spark, spec.path).collect()
    }


@pytest.mark.parametrize("op", OPS)
def test_lost_cas_retries_on_top_of_competitor(spark, state, monkeypatch, op):
    """A competing commit lands between the op's plan and its CAS: the
    first CAS fails, and the retry re-plans against the competitor's
    snapshot and commits on top of it."""
    real_commit = W._commit_merge_version
    calls = {"n": 0}

    def inject_competitor_then_commit(
        local, expected, new_version, attempt, buckets, layout=None, schema=None
    ):
        calls["n"] += 1
        if calls["n"] == 1:
            # a carbon-copy manifest, as a competitor whose commit touched
            # nothing this writer can see
            cur = json.loads((Path(local) / "_CURRENT").read_text())["version"]
            man = json.loads(
                (Path(local) / "_manifests" / f"v{cur}.json").read_text()
            )
            (Path(local) / "_manifests" / f"v{cur + 1}.json").write_text(
                json.dumps({**man, "version": cur + 1})
            )
            (Path(local) / "_CURRENT").write_text(json.dumps({"version": cur + 1}))
        return real_commit(
            local, expected, new_version, attempt, buckets, layout, schema
        )

    monkeypatch.setattr(W, "_commit_merge_version", inject_competitor_then_commit)
    before = _version(state.path)
    _run(spark, op, state)
    assert calls["n"] == 2  # first CAS lost, retry won
    # on top of the competitor: seed state vN, competitor vN+1, op vN+2
    assert _version(state.path) == before + 2
    assert _state_rows(spark, state) == _expected(op)
    trees = Path(state.path) / "_trees"
    assert not any(p.name.startswith(".inprogress-") for p in trees.iterdir())


@pytest.mark.parametrize("op", OPS)
def test_cas_exhaustion_raises_and_leaves_no_attempt(
    spark, state, monkeypatch, op
):
    """An op that loses every CAS raises MergeCommitConflictError, leaves
    no ``.inprogress-*`` tree behind and the state as it was."""
    before_version = _version(state.path)
    before_rows = _state_rows(spark, state)
    monkeypatch.setattr(W, "_commit_merge_version", lambda *a, **k: False)
    monkeypatch.setattr(W, "_MERGE_COMMIT_RETRIES", 2)
    with pytest.raises(MergeCommitConflictError, match="lost the commit CAS 2"):
        _run(spark, op, state)
    trees = Path(state.path) / "_trees"
    assert not any(p.name.startswith(".inprogress-") for p in trees.iterdir())
    assert _version(state.path) == before_version
    assert _state_rows(spark, state) == before_rows

